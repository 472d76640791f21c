"""Scale-mode profiler stages: bucketize -> chunk stats -> states ->
transition counts -> probabilities -> profile assembly.

Re-expresses the reference dataflow (profiler/profiler.go:99-133) as
distributive DataFrame operators. Scale mode assumes fixed discretization
bounds (the realistic deployment, example-159 ``fixbound:true``), under
which chunk states and transition counts are pure functions of the data and
merge associatively — no dynamic-grid rescale (utils/txdimension.go) and no
snapshot averaging are needed. Parity mode (plans/parity.py) covers the
dynamic/lossy behaviors with the kernel oracle per series.

Everything here is pure pyspark.sql.functions — JVM-side, codegen-able,
zero Python in the data path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tsprofiler_spark.config import Settings
from tsprofiler_spark.functions import closest_state, go_round_nonneg
from tsprofiler_spark.operators.ingest import SERIES_COLS
from tsprofiler_spark.operators.rollup import value_partials


def bucketize(
    series: DataFrame,
    buffer_size: int,
    order_cols: tuple[str, ...] = ("ts", "turn_idx"),
) -> DataFrame:
    """Assign chunk index: bucket_idx = floor(seq / B), seq = arrival order
    (reference: chunk closes on input count, profiler.go:107).

    ``order_cols``: the arrival-order key. The default (ts, turn_idx) makes
    no assumptions about the input. Callers that KNOW ts is monotone in
    turn_idx per series — true by construction for gap-filled transcripts,
    where filled ts is interpolated on the turn axis — pass ("turn_idx",):
    the window spec then matches the LOCF value-fill window exactly, so the
    sort done for that pass satisfies this one and Spark skips a second
    whole-table sort (the plan-shape test pins the sort count).

    NULL values never get a seq slot: the reference skips unparseable
    cells BEFORE buffering (cmd/csv2tsprofile/main.go:166-170 continue),
    so a NULL observation must not consume a buffer position — counting
    it would make chunk_stats' n == buffer_size completeness gate drop
    the whole chunk, deleting buffer_size-1 REAL observations. No-op on
    the gap-filled path (LOCF leaves no NULLs).
    """
    w = Window.partitionBy(*SERIES_COLS, "metric").orderBy(*order_cols)
    rows = series.where(F.col("value").isNotNull())
    return rows.withColumn("seq", F.row_number().over(w) - 1).withColumn(
        "bucket_idx", (F.col("seq") / F.lit(buffer_size)).cast("long")
    )


def bucketize_segmented(
    series: DataFrame,
    buffer_size: int,
    segment_turns: int = 65536,
    order_cols: tuple[str, ...] = ("ts", "turn_idx"),
) -> DataFrame:
    """Skew-safe `bucketize`: identical output, no whole-series sort.

    A hot conv_id (the north_rule's skew case) forces plain `bucketize`
    to sort that series' entire history inside ONE task. Here the series is
    split into salted segments of ``segment_turns`` consecutive turn_idx
    values: row_number runs per (series, metric, segment) — bounded work per
    task — and the global ordinal is recovered by adding each segment's
    cumulative predecessor-row count, computed on the tiny per-segment count
    table and joined back co-partitioned on the segment key. Ordering
    stability inside groups is preserved by construction: segment order is
    turn_idx order, and ties within a segment sort exactly as in
    `bucketize` (ts, turn_idx).

    ``order_cols`` mirrors `bucketize`: gap-filled inputs MUST pass
    ("turn_idx",) — interpolated gap ts (min_ts + turn*step_seconds) is
    not monotone against observed ts when the real cadence differs from
    step_seconds, so (ts, turn_idx) order there diverges from the turn
    order the non-segmented gap-fill path buckets by (pinned by
    test_skew's irregular-cadence case).

    Precondition (checked by the equality test, not at runtime): within a
    series, ordering by order_cols equals ordering by turn_idx — true for
    raw transcripts under the default (ts monotone in turn_idx per
    conversation), and trivially true for ("turn_idx",); segment order is
    always turn order.
    """
    keys = [*SERIES_COLS, "metric"]
    # same NULL-skip contract as `bucketize` (reference drops unparseable
    # cells before buffering) — required for output equality
    s = series.where(F.col("value").isNotNull()).withColumn(
        "_seg", (F.col("turn_idx") / F.lit(segment_turns)).cast("long")
    )
    w_local = Window.partitionBy(*keys, "_seg").orderBy(*order_cols)
    local = s.withColumn("_local_seq", F.row_number().over(w_local) - 1)

    counts = s.groupBy(*keys, "_seg").agg(F.count(F.lit(1)).alias("_cnt"))
    w_off = (
        Window.partitionBy(*keys)
        .orderBy("_seg")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *keys, "_seg", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_offset")
    )
    joined = local.join(offsets, [*keys, "_seg"])
    return joined.select(
        *series.columns,
        (F.col("_local_seq") + F.col("_offset")).cast("int").alias("seq"),
        ((F.col("_local_seq") + F.col("_offset")) / F.lit(buffer_size))
        .cast("long")
        .alias("bucket_idx"),
    )


def chunk_stats(bucketed: DataFrame, settings: Settings) -> DataFrame:
    """Per-chunk aggregation (reference: descretizer.go:68-85).

    Emits per (series, metric, bucket_idx): count, avg, min/max (fixed or
    chunk-dynamic), sample stddev, and the reference's cross-term
    ``stddev_sum = sum((v - current_avg) * (v - chunk_avg))`` where
    ``current_avg`` is the global running average before this chunk —
    recovered distributively from cumulative sums:
    ``S2 - avg*S1 - cavg*S1 + n*cavg*avg``.

    Incomplete trailing chunks are dropped (the reference discards a
    partially filled buffer at stream end).
    """
    agg = bucketed.groupBy(*SERIES_COLS, "metric", "bucket_idx").agg(
        *value_partials(),
        F.avg("value").alias("chunk_avg"),
        F.stddev_samp("value").alias("chunk_stddev"),
        F.min("ts").alias("bucket_start"),
        F.max("ts").alias("bucket_end"),
    )
    agg = agg.where(F.col("n") == F.lit(settings.buffer_size))

    w = (
        Window.partitionBy(*SERIES_COLS, "metric")
        .orderBy("bucket_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_s1 = F.sum("s1").over(w)
    cum_n = F.sum("n").over(w)
    current_avg = F.coalesce(cum_s1 / cum_n, F.lit(0.0))

    if settings.fix_bound:
        vmin, vmax = F.lit(settings.fixed_min), F.lit(settings.fixed_max)
    else:
        vmin, vmax = F.col("vmin"), F.col("vmax")

    return agg.select(
        *SERIES_COLS,
        "metric",
        "bucket_idx",
        "bucket_start",
        "bucket_end",
        "n",
        "s1",
        "s2",
        "chunk_avg",
        "chunk_stddev",
        vmin.alias("bound_min"),
        vmax.alias("bound_max"),
        current_avg.alias("current_avg"),
        (
            F.col("s2")
            - F.col("chunk_avg") * F.col("s1")
            - current_avg * F.col("s1")
            + F.col("n") * current_avg * F.col("chunk_avg")
        ).alias("stddev_sum"),
    )


def with_state(chunks: DataFrame, settings: Settings) -> DataFrame:
    """Discretize chunk averages (reference: utils/discretize.go:30-51).

    Scale mode requires fixed bounds so the state is a pure per-row formula.
    """
    # a real check, not `assert` — python -O would compile that out and
    # silently discretize against the default fixed bounds
    if not settings.fix_bound:
        raise ValueError("scale mode discretization requires fix_bound")
    return chunks.withColumn(
        "state",
        closest_state(
            F.col("chunk_avg"), settings.states, settings.fixed_min, settings.fixed_max
        ),
    )


def transition_counts(states: DataFrame, settings: Settings) -> DataFrame:
    """Markov transition counting (reference: counter.go:159-185).

    The previous-state window is zero-seeded (first chunk counts a
    transition from synthetic state 0) and every history *suffix* ident is
    incremented: window [a, b] increments "a-b" AND "b".
    """
    w = Window.partitionBy(*SERIES_COLS, "metric").orderBy("bucket_idx")
    lags = [
        F.coalesce(F.lag("state", i).over(w), F.lit(0)).cast("string")
        for i in range(settings.history, 0, -1)
    ]  # oldest ... newest
    idents = F.array(
        *[F.concat_ws("-", *lags[j:]) for j in range(settings.history)]
    )  # suffixes: full window first, then shorter
    # two-step: window exprs first, generator second (Spark can't mix them)
    with_idents = states.withColumn("idents", idents)
    exploded = with_idents.withColumn("ident", F.explode("idents"))
    return exploded.groupBy(*SERIES_COLS, "metric", "ident", "state").agg(
        F.count(F.lit(1)).alias("cnt")
    ).withColumnRenamed("state", "next_state")


def transition_probs(counts: DataFrame, settings: Settings) -> DataFrame:
    """Integer-percent normalization (reference: utils/txprobabilities.go:7-31).

    ``prob_pct = go_round(100 * cnt / row_sum)``;
    ``step_prob = go_round(100 * row_sum / n_chunks)`` where n_chunks =
    global_count / buffer_size (counter.go:202). Only the full-history
    ident rows carry chunk multiplicity 1; suffix idents inflate row sums
    exactly as in the reference.
    """
    w_row = Window.partitionBy(*SERIES_COLS, "metric", "ident")
    # total chunks per (series, metric) = distinct buckets = sum over the
    # FULL-LENGTH idents only... every chunk contributes exactly one count
    # per suffix length, so sum(cnt)/history == n_chunks.
    w_series = Window.partitionBy(*SERIES_COLS, "metric")
    row_sum = F.sum("cnt").over(w_row)
    n_chunks = F.sum("cnt").over(w_series) / F.lit(settings.history)
    return counts.select(
        *SERIES_COLS,
        "metric",
        "ident",
        "next_state",
        "cnt",
        # op order is load-bearing: the reference computes
        # float64(v)/float64(sum) * 100 (txprobabilities.go:18), and
        # (cnt/row_sum)*100.0 differs from (100.0*cnt)/row_sum in the
        # final ulp on pairs like 23/40 (57.4999... vs 57.5), flipping
        # the rounded percent
        go_round_nonneg(F.col("cnt") / row_sum * F.lit(100.0)).cast("int").alias("prob_pct"),
        go_round_nonneg(row_sum / n_chunks * F.lit(100.0)).cast("int").alias("step_prob"),
    )


def txmatrix_corpus_probs(
    counts: DataFrame, keys: list[str]
) -> DataFrame:
    """Aggregate per-series transition counts into corpus-level txmatrices
    keyed by ``keys`` and normalize to the reference's integer percents
    (utils/txprobabilities.go:7-31): ``prob_pct = go_round(100*cnt/row_sum)``.

    One shuffle (groupBy on keys+ident+next_state, map-side combined);
    the row-sum window repartitions nothing extra because it shares the
    grouping prefix. Input is any ``transition_counts`` output.
    """
    agg = counts.groupBy(*keys, "ident", "next_state").agg(
        F.sum("cnt").alias("cnt")
    )
    w_row = Window.partitionBy(*keys, "ident")
    return agg.select(
        *keys,
        "ident",
        "next_state",
        "cnt",
        # reference op order: (cnt/row_sum)*100 — see transition_probs
        go_round_nonneg(F.col("cnt") / F.sum("cnt").over(w_row) * F.lit(100.0))
        .cast("int")
        .alias("prob_pct"),
    )


def _txmatrix_dense_cells(
    probs_a: DataFrame, probs_b: DataFrame, settings: Settings, keys: list[str]
) -> DataFrame:
    """Local-side dense cells with remote match info, the shared shape under
    txmatrix diff/merge.

    Reference semantics (models/txmatrix.go): both walk the LOCAL matrix's
    idents only, over the full S-length nextProbs row (zeros included);
    the remote side contributes only where the same ident exists. Relational
    form: local idents x states(0..S-1) spine, left-joined to both sides'
    sparse cells. Columns: keys + ident, next_state, p (local pct),
    matched (remote has ident), q (remote pct, 0 when absent).
    """
    jk = [*keys, "ident"]
    spine = (
        probs_a.select(*jk)
        .distinct()
        .withColumn(
            "next_state",
            F.explode(F.sequence(F.lit(0), F.lit(settings.states - 1))),
        )
    )
    a_cells = probs_a.select(*jk, "next_state", F.col("prob_pct").alias("_p"))
    b_cells = probs_b.select(*jk, "next_state", F.col("prob_pct").alias("_q"))
    b_idents = probs_b.select(*jk).distinct().withColumn("_matched", F.lit(True))
    return (
        spine.join(a_cells, [*jk, "next_state"], "left")
        .join(b_idents, jk, "left")
        .join(b_cells, [*jk, "next_state"], "left")
        .select(
            *jk,
            "next_state",
            F.coalesce(F.col("_p"), F.lit(0)).alias("p"),
            F.coalesce(F.col("_matched"), F.lit(False)).alias("matched"),
            F.coalesce(F.col("_q"), F.lit(0)).alias("q"),
        )
    )


def txmatrix_diff(
    probs_a: DataFrame, probs_b: DataFrame, settings: Settings, keys: list[str]
) -> DataFrame:
    """Distributed TxMatrix similarity diff (reference: models/txmatrix.go:16-43).

    ``ratio = 1 - sum(diffs)/sum(counter)`` over the LOCAL side's idents:
    matched cells contribute ``|p-q|`` to diffs and ``p+q`` to counter,
    remote-missing idents count as full diff (``p`` to both). The
    reference clamps each cell diff to the *running* counter, but that
    clamp is provably dead: at the compare point counter has already
    absorbed this cell's ``p+q >= |p-q|``, so the relational form is
    order-independent. All sums are exact integers (int percents); the
    single final division + half-away-from-zero x1000 rounding is identical
    across engines. Returns one row per key: ``diff_milli`` int in [0,1000].

    Scale shape: the dense spine is |local idents| x S rows — linear in the
    profile size, never in the corpus; one groupBy(keys) reduction.
    """
    cells = _txmatrix_dense_cells(probs_a, probs_b, settings, keys)
    diffs = F.sum(
        F.when(F.col("matched"), F.abs(F.col("p") - F.col("q"))).otherwise(
            F.col("p")
        )
    )
    counter = F.sum(
        F.col("p") + F.when(F.col("matched"), F.col("q")).otherwise(F.lit(0))
    )
    return cells.groupBy(*keys).agg(
        go_round_nonneg(
            F.lit(1000.0) * (F.lit(1.0) - diffs / counter)
        )
        .cast("int")
        .alias("diff_milli")
    )


def txmatrix_merge(
    probs_a: DataFrame, probs_b: DataFrame, settings: Settings, keys: list[str]
) -> DataFrame:
    """Distributed TxMatrix average-merge (reference: models/txmatrix.go:46-59).

    Per-index integer-percent average, half-away-from-zero rounded, over the
    LOCAL side's idents only — remote-only idents are dropped (asymmetric by
    design: the reference iterates the stored side). ``(p+q)/2`` of two ints
    is an exact double (.0/.5), so rounding is engine-independent. Returns
    dense cells: keys + ident, next_state, merged_pct.
    """
    cells = _txmatrix_dense_cells(probs_a, probs_b, settings, keys)
    return cells.select(
        *keys,
        "ident",
        "next_state",
        F.when(
            F.col("matched"),
            go_round_nonneg((F.col("p") + F.col("q")) / F.lit(2.0)).cast("int"),
        )
        .otherwise(F.col("p"))
        .alias("merged_pct"),
    )


def series_stats(chunks: DataFrame, settings: Settings) -> DataFrame:
    """Global per-(series, metric) running stats (reference: counter.go:148-156).

    Associative recombination: the reference's sequential weighted-mean fold
    equals sum(S1)/sum(n) exactly in exact arithmetic; stddev_sum is a plain
    sum of per-chunk cross terms; stddev = sqrt(stddev_sum / count)
    (population-style over cross terms, matching the reference formula).
    """
    # chunk_stats folds the fix_bound choice into bound_min/bound_max
    # (== the chunk's vmin/vmax when fix_bound is False) and drops the
    # raw vmin/vmax columns, so this works for both modes.
    min_col = F.min("bound_min")
    max_col = F.max("bound_max")
    return chunks.groupBy(*SERIES_COLS, "metric").agg(
        F.sum("n").alias("count"),
        (F.sum("s1") / F.sum("n")).alias("avg"),
        # exact-integer twin of avg's numerator (metric values are integral
        # doubles, so SUM is exact below 2^53): cross-engine value checks
        # derive avg from s1_sum/count in pure integer arithmetic instead
        # of comparing raw IEEE doubles
        F.sum("s1").cast("long").alias("s1_sum"),
        min_col.alias("min"),
        max_col.alias("max"),
        F.sum("stddev_sum").alias("stddev_sum"),
        # Canonical order-independent form for cross-engine value checks:
        # per-chunk stddev_sum is a deterministic double (pure function of
        # the chunk + exact cumulative integer sums), but SUM(double) over
        # partial aggregation is order-dependent at the 1e-6 rounding
        # boundary. Rounding each chunk to integer micro-units FIRST makes
        # the sum exact and associative at any parallelism.
        F.sum(
            F.floor(F.col("stddev_sum") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
        ).alias("stddev_sum_u"),
        F.sqrt(F.sum("stddev_sum") / F.sum("n")).alias("stddev"),
        F.count(F.lit(1)).alias("n_chunks"),
    )


def assemble_profile(
    probs: DataFrame, stats: DataFrame, settings: Settings
) -> DataFrame:
    """TxMatrix + stats -> one profile document row per (series, metric)
    (reference: counter.go:196-212, profiler.go:151-163).

    transitions: map<ident, struct<nextProbs array<int>, probability int>>
    with the full S-length nextProbs array (zeros included).
    """
    S = settings.states
    per_ident = probs.groupBy(*SERIES_COLS, "metric", "ident").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("next_state"), F.col("prob_pct")))
        ).alias("prob_map"),
        F.max("step_prob").alias("probability"),
    )
    per_ident = per_ident.select(
        *SERIES_COLS,
        "metric",
        "ident",
        F.transform(
            F.sequence(F.lit(0), F.lit(S - 1)),
            lambda s: F.coalesce(F.element_at(F.col("prob_map"), s), F.lit(0)),
        ).alias("next_probs"),
        "probability",
    )
    # array_sort before map_from_entries: collect_list order follows task
    # completion order, which varies with partition count — the JSON doc must
    # be byte-identical at any parallelism, so sort entries by ident
    tx = per_ident.groupBy(*SERIES_COLS, "metric").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("ident"),
                        F.struct(
                            F.col("next_probs").alias("nextProbs"),
                            F.col("probability").alias("probability"),
                        ),
                    )
                )
            )
        ).alias("transitions")
    )
    joined = tx.join(stats, SERIES_COLS + ["metric"], "inner")
    return joined.select(
        *SERIES_COLS,
        "metric",
        "transitions",
        F.struct(
            F.col("min"), F.col("max"), F.col("stddev"),
            F.col("avg"), F.col("count"), F.col("stddev_sum").alias("stddevsum"),
        ).alias("stats"),
        F.to_json(
            F.struct(
                F.col("metric"),
                F.col("transitions"),
                F.struct(
                    F.col("min"), F.col("max"), F.col("stddev"),
                    F.col("avg"), F.col("count"),
                    F.col("stddev_sum").alias("stddevsum"),
                ).alias("stats"),
            )
        ).alias("profile_json"),
    )
