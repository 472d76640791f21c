"""Incremental retention job: new transcripts -> MERGE into every tier.

Each run reads only rows with ``ts > manifest.watermark`` (on Iceberg:
incremental snapshot read; here: predicate pushed to the parquet scan),
computes the batch's 1m partials once (the increment), and stages every
tier in one write under one merge rule: each affected tier day becomes its
committed version ⊕ the increment combined to that tier
(`RollupStore._merged_tier_plan`). Sums, min and max compose, so the rule
is exact for new, late, TTL-resurrected and replayed days alike. TTL
expiry follows, and the checkpoint manifest commits last with per-partition
lineage. Killing the job before the commit and re-running is safe: staged
versions stay invisible and the replay re-stages them from the same
committed base.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsprofiler_spark.config import DEFAULT_TIERS, Settings
from tsprofiler_spark.operators.ingest import SERIES_COLS, derive_series
from tsprofiler_spark.operators.rollup import (
    CASCADE,
    TIER_TRUNC,
    combine,
    partials,
    tier_bucket,
)
from tsprofiler_spark.plans.storage import RollupStore


def touched_days() -> F.Column:
    """Aggregate expression: the set of days present in ``ts`` — identical
    to the day partitions every tier bucket of this batch lands in
    (minute/hour/day truncation preserves the day).

    Collected as DATE values, not pre-formatted strings: ``to_date`` is one
    integer division per row while ``date_format`` allocates a string per
    row BEFORE the partial aggregation dedups (measured ~40% of the
    watermark-scan stage's CPU at 41M rows). Callers format the handful of
    collected dates driver-side with :func:`format_days`."""
    return F.collect_set(F.to_date("ts"))


def format_days(days) -> list[str]:
    """Driver-side yyyy-MM-dd formatting of a collected `touched_days` set."""
    return [d.isoformat() for d in days or []]


def check_tiers_cfg(tiers_cfg: dict) -> dict:
    """Validate a retention tier config (the shape of
    ``config.DEFAULT_TIERS``): every tier is a known one and maps to a dict
    with a positive int ``ttl_days``. Called before any merge commits, so a
    malformed config fails at the call, not mid-stream after a commit."""
    if not isinstance(tiers_cfg, dict):
        raise ValueError(f"tiers_cfg must be a dict, got {type(tiers_cfg).__name__}")
    for tier, cfg in tiers_cfg.items():
        if tier not in DEFAULT_TIERS:
            raise ValueError(
                f"tiers_cfg: unknown tier {tier!r}; known: {sorted(DEFAULT_TIERS)}"
            )
        ttl = cfg.get("ttl_days") if isinstance(cfg, dict) else None
        if not isinstance(ttl, int) or isinstance(ttl, bool) or ttl <= 0:
            raise ValueError(
                f"tiers_cfg[{tier!r}] needs a positive int 'ttl_days', got {cfg!r}"
            )
    return tiers_cfg


def expire_tiers(store: RollupStore, tiers_cfg: dict) -> None:
    """TTL expiry of every stored tier in ``tiers_cfg`` (already checked by
    `check_tiers_cfg`). A manifest day-list scan and a pointer commit per
    tier — no Spark job."""
    for tier, cfg in tiers_cfg.items():
        if tier in TIER_TRUNC:
            store.expire(tier, cfg["ttl_days"])


def batch_increments(transcripts: DataFrame) -> dict[str, DataFrame]:
    """The batch's partials per tier: its 1m partials (the increment), and
    the increment combined to every coarser tier.

    The raw series rows are hash-distributed by the series key ONCE. Every
    tier's groupBy clusters on a superset of the series columns, so that
    partitioning already satisfies them (no aggregation exchange), the
    three union branches of the staged write reuse the one exchange, and
    `RollupStore.merge_tiers` writes straight from the aggregation output.
    Staged files are conversation-colocated as a result.

    Skew note: one task owns a whole conversation-series — the same
    per-conv concentration every gap-fill/bucketize window in the engine
    already has; for pathological single-hot-series corpora the segmented
    variants (operators/ingest.py gap_fill_segmented, bucketize_segmented)
    are the documented salting fallback.
    """
    n_shuffle = int(transcripts.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    series = derive_series(transcripts).repartition(n_shuffle, *SERIES_COLS)
    inc = partials(series, tier_bucket("1m"))
    return {
        tier: inc if tier == "1m" else combine(inc, tier_bucket(tier, "bucket_start"))
        for tier in CASCADE
    }


def merge_transcript_batch(
    transcripts: DataFrame,
    store: RollupStore,
    run_id: str,
    watermark: str,
    affected: list[str] | None = None,
) -> list[dict]:
    """MERGE one batch of transcripts into every tier in ONE snapshot
    commit; returns lineage (empty when ``run_id`` was already committed).

    Shared by the batch-incremental job below and the Structured Streaming
    ``foreachBatch`` path (streaming/ingest.py) — identical semantics by
    construction, which is what the stream-vs-batch equality test pins.

    All three tiers stage in one write job from the batch's increments
    (`batch_increments`) under the one merge rule, then one ``commit_run``
    publishes them and the watermark atomically. Exactly-once under
    at-least-once replay: a previously committed ``run_id`` is skipped
    outright; a crash mid-batch leaves only staged (invisible) day
    versions, and the replay re-stages them idempotently from the same
    committed base.

    ``affected`` (touched day partitions) is normally folded into the
    caller's existing watermark aggregation (one job); when absent it is
    computed here with a ts-only column-pruned scan.
    """
    if store.manifest.has_run(run_id):
        return []  # replayed micro-batch / re-run — already committed
    if affected is None:
        affected = format_days(transcripts.agg(touched_days()).collect()[0][0])
    lineage, pointers = store.merge_tiers(
        batch_increments(transcripts), run_id, affected
    )
    store.commit_run(run_id, watermark, lineage, pointers)
    return lineage


def incremental_run(
    transcripts: DataFrame,
    store: RollupStore,
    settings: Settings,
    tiers_cfg: dict | None = None,
    expire: bool = True,
) -> dict:
    """One resumable incremental run. Returns run stats."""
    tiers_cfg = check_tiers_cfg(tiers_cfg or DEFAULT_TIERS)

    wm = store.manifest.watermark
    new = transcripts
    if wm is not None:
        new = transcripts.where(F.col("ts") > F.lit(wm).cast("timestamp"))
    # one scan for the row count, the new watermark AND the touched day
    # partitions (shared by every tier MERGE below)
    n_new, new_wm, affected = new.agg(
        F.count(F.lit(1)), F.max("ts"), touched_days()
    ).collect()[0]
    affected = format_days(affected)
    if n_new == 0:
        return {"run_id": None, "new_rows": 0, "partitions": []}
    # deterministic run_id from the data window: a crashed-then-retried run
    # over the same watermark range stages/commits the same snapshot (and a
    # replay after commit is a recorded no-op); also keeps output dirs
    # byte-comparable across parallelism levels in the scaling bench
    new_wm_iso = new_wm.isoformat(sep=" ")
    run_id = "run-" + uuid.uuid5(uuid.NAMESPACE_URL, f"{wm}->{new_wm_iso}").hex[:12]

    lineage = merge_transcript_batch(new, store, run_id, new_wm_iso, affected=affected)

    if expire:
        expire_tiers(store, tiers_cfg)

    return {"run_id": run_id, "new_rows": n_new, "partitions": lineage}
