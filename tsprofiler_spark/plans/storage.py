"""Rollup storage: snapshot-committed MERGE of tier partials + manifest.

On a real cluster this layer targets Iceberg (`MERGE INTO` keyed on
(series, metric, bucket_start), partition spec (days(bucket_start),
bucket(N, conv_id)), snapshot expiry for TTL). This sandbox has no Iceberg
runtime jar, so the same *commit semantics* are implemented directly:

* tier data lives in per-day **versioned** directories
  ``<base>/tier=<t>/day=<yyyy-mm-dd>/v=<run_id>/``;
* a MERGE **stages** new day versions (write-then-swap: one Spark write job
  into a staging dir, then a rename per affected day);
* the checkpoint manifest (JSON, atomic ``os.replace``) holds the committed
  ``{tier: {day: version}}`` pointers, the high-watermark `ts`, and run
  lineage — readers only ever see committed versions.

This is what makes ingestion **exactly-once under at-least-once replay**
(Structured Streaming's foreachBatch, or a re-run batch job): a crash
anywhere before the single manifest commit leaves the committed pointers
untouched, so the replay recomputes the same day versions from the same
committed base snapshot and idempotently overwrites the staged dirs. There
is no window in which a partially-merged tier is visible, and no additive
double-count — the same mechanism (and the same reason) as an Iceberg
snapshot commit.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsprofiler_spark.operators.ingest import SERIES_COLS
from tsprofiler_spark.operators.rollup import PARTIALS, combine, tier_bucket

TIER_KEY = SERIES_COLS + ["metric", "bucket_start"]


LINEAGE_KEEP = 256  # full per-day lineage kept for the most recent N runs
# the manifest's saved fields (everything but its path)
MANIFEST_KEYS = ("watermark", "runs", "tiers", "compacted_run_ids")


@dataclass
class Manifest:
    path: str
    watermark: str | None = None  # max ingested ts (ISO)
    runs: list = field(default_factory=list)
    # committed snapshot pointers: tier -> {day -> version (run_id)}
    tiers: dict = field(default_factory=dict)
    # run_ids of runs whose full lineage has been compacted away; together
    # with runs' ids this is the complete replay-dedup set. A long-lived
    # minute-cadence stream commits ~500k runs/year — at a few tens of bytes
    # per compacted id the manifest stays small, whereas unbounded full
    # lineage (per-day partition records) grew it without limit.
    compacted_run_ids: list = field(default_factory=list)

    def __post_init__(self) -> None:
        self._run_ids = set(self.compacted_run_ids)
        self._run_ids.update(r.get("run_id") for r in self.runs)

    @staticmethod
    def load(path: str) -> "Manifest":
        """Keys this version does not know are ignored, and the next save
        drops them: manifests written before the single merge rule carry
        a per-day ``partial`` flag the rule no longer needs."""
        if os.path.exists(path):
            with open(path) as f:
                d = json.load(f)
            return Manifest(path=path, **{k: d[k] for k in MANIFEST_KEYS if k in d})
        return Manifest(path=path)

    def has_run(self, run_id: str) -> bool:
        return run_id in self._run_ids

    def _save(self) -> None:
        tmp = self.path + ".tmp"
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump({k: getattr(self, k) for k in MANIFEST_KEYS}, f, indent=1)
        os.replace(tmp, self.path)  # THE atomic commit point

    def record_run(
        self,
        run_id: str,
        watermark: str,
        partitions: list[dict],
        pointers: dict[str, dict[str, str]] | None = None,
    ) -> None:
        """Single atomic commit: watermark + lineage + tier snapshot pointers."""
        self.watermark = watermark
        self.runs.append(
            {
                "run_id": run_id,
                "watermark": watermark,
                "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "partitions": partitions,
            }
        )
        self._run_ids.add(run_id)
        while len(self.runs) > LINEAGE_KEEP:
            self.compacted_run_ids.append(self.runs.pop(0)["run_id"])
        for tier, days in (pointers or {}).items():
            self.tiers.setdefault(tier, {}).update(days)
        self._save()

    def drop_days(self, tier: str, days: list[str]) -> None:
        """Commit a TTL expiry (pointer removal) before any dir deletion."""
        t = self.tiers.get(tier, {})
        for d in days:
            t.pop(d, None)
        self._save()


class RollupStore:
    """Tier tables with snapshot-commit MERGE semantics and lineage metrics."""

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base = base_path
        self.manifest = Manifest.load(os.path.join(base_path, "manifest.json"))

    def _tier_path(self, tier: str) -> str:
        return os.path.join(self.base, f"tier={tier}")

    def _day_dir(self, tier: str, day: str, version: str) -> str:
        return os.path.join(self._tier_path(tier), f"day={day}", f"v={version}")

    def read_versions(self, tier: str, pointers: dict[str, str]) -> DataFrame:
        """Read a specific {day: version} set of a tier (committed or staged)."""
        paths = [self._day_dir(tier, day, ver) for day, ver in sorted(pointers.items())]
        df = self.spark.read.option("basePath", self._tier_path(tier)).parquet(*paths)
        # partition inference types day= as DATE; keep the string contract
        return df.drop("v").withColumn(
            "day", F.date_format(F.col("day"), "yyyy-MM-dd")
        )

    def read_tier(
        self,
        tier: str,
        start_day: str | None = None,
        end_day: str | None = None,
    ) -> DataFrame | None:
        """Committed snapshot of a tier (only manifest-pointed versions).

        ``start_day``/``end_day`` (inclusive ``yyyy-MM-dd`` bounds) prune at
        the PATH level: days outside the range are never listed, let alone
        scanned — the manifest is the partition index, so a time-range query
        over years of tiers opens only the requested days' files (the
        Iceberg-manifest analogue of partition pruning)."""
        pointers = self.manifest.tiers.get(tier)
        if pointers and (start_day or end_day):
            pointers = {
                d: v
                for d, v in pointers.items()
                if (start_day is None or d >= start_day)
                and (end_day is None or d <= end_day)
            }
        if not pointers:
            return None
        return self.read_versions(tier, pointers)

    def _merged_tier_plan(
        self, inc: DataFrame, tier: str, affected: list[str]
    ) -> DataFrame:
        """The one merge rule, for tier T and every affected day d:

            new_T(d) = base_T(d) ⊕ inc

        ``inc`` is the batch's increment already combined to T's buckets,
        and ⊕ is `operators.rollup.combine`. base_T(d) is T's committed
        version of d. Where T holds none it is the committed 1m version of
        d combined to T (a 1m day whose coarse pointers were dropped), and
        where 1m holds none either it is empty: a new day, or a day
        already expired from 1m — its coarse history lives on in T's own
        version, so only the increment folds in. Every day class (new,
        committed, late, TTL-resurrected, replayed) takes this one path.

        Only the affected days' versions are read — the manifest is the
        partition index — so late data for a 10y-old 1d day opens one day
        dir, not the tier. Re-staging the same input from the same
        committed base (a replay with the same run_id) rewrites the same
        version dirs byte-identically.
        """
        committed = self.manifest.tiers.get(tier) or {}
        finest = self.manifest.tiers.get("1m") or {}
        own = {d: committed[d] for d in affected if d in committed}
        fallback = {d: finest[d] for d in affected if d not in committed and d in finest}
        merged = inc.select(*TIER_KEY, *PARTIALS)
        if own or fallback:
            if own:
                merged = merged.unionByName(
                    self.read_versions(tier, own).select(*TIER_KEY, *PARTIALS)
                )
            if fallback:
                merged = merged.unionByName(combine(
                    self.read_versions("1m", fallback),
                    tier_bucket(tier, "bucket_start"),
                ).select(*TIER_KEY, *PARTIALS))
            merged = combine(merged, F.col("bucket_start"))
        # with no base the increment is already one row per key: a
        # re-aggregation would be an identity shuffle, so it is skipped
        return merged.withColumn(
            "day", F.date_format(F.date_trunc("day", "bucket_start"), "yyyy-MM-dd")
        )

    def _staged_plan(
        self, partials_by_tier: dict[str, DataFrame], affected: list[str]
    ) -> DataFrame:
        """Every tier's merged plan, unioned into the one staged write."""
        return reduce(DataFrame.unionByName, [
            self._merged_tier_plan(df, tier, affected).withColumn("tier", F.lit(tier))
            for tier, df in partials_by_tier.items()
        ])

    def merge_tiers(
        self,
        partials_by_tier: dict[str, DataFrame],
        run_id: str,
        affected: list[str],
    ) -> tuple[list[dict], dict[str, dict[str, str]]]:
        """Stage the MERGE of EVERY tier's partials as new day versions in
        ONE write job (NOT yet visible — the caller publishes atomically via
        `commit_run`).

        All tiers union into a single (tier, day)-partitioned write instead
        of one write job per tier: at cluster scale this is one shuffle +
        one commit pipeline instead of three job barriers. Write-then-swap:
        the job lands in a staging dir, then one rename per (tier, day)
        into the versioned location (the sandbox analogue of an Iceberg
        multi-table snapshot commit).

        ``affected`` is the set of touched yyyy-MM-dd day partitions —
        identical for every tier of one batch (day truncation of the same
        bucket range).

        Returns (lineage, pointers) with pointers = {tier: {day: run_id}}.
        """
        merged = self._staged_plan(partials_by_tier, affected)
        # ONE write job, NO executor-memory cache of the merged data: the
        # staged parquet itself is the materialization (columnar, compressed
        # — a fraction of a deserialized JVM cache, and what an Iceberg
        # MERGE produces anyway). Row counts for lineage/validation come
        # from a cheap metadata-ish count over the staged files afterwards.
        #
        # The write runs straight from the merge's aggregation output, which
        # is already hash-distributed across ~shuffle.partitions tasks (the
        # retention batch partitions the raw series by the series key once,
        # and every tier's groupBy reuses it): no second shuffle of the
        # merged tiers. Each task writes one file per (tier, day) dir it
        # holds rows for, with a conversation's rows colocated in one file.
        # Sort within partitions by the full segment key + time. The dynamic
        # partitionBy write needs a local sort on (tier, day) anyway (one
        # open writer per dir); widening it to the series key and
        # bucket_start costs the same single SortExec but makes every staged
        # file SEGMENT-CONTIGUOUS and time-ordered — parquet delta/dict
        # encoding compresses better, range scans read ordered data, and the
        # codec can stream segments straight off the scan with no shuffle
        # (operators/compress.py compress_points_colocated).
        staging = os.path.join(self.base, f"_staging-{run_id}")
        merged = merged.sortWithinPartitions(
            "tier", "day", *SERIES_COLS, "metric", "bucket_start"
        )
        # The planned-write optimizer (Spark 3.4+, on by default) requires
        # ordering on `empty2null(<string partition col>)`, which never
        # semantically matches a user sort on the raw column — so it layers
        # its own UNSTABLE sort on (tier, day) over ours and scrambles the
        # segment order inside every file. The legacy write path compares
        # orderings on the attributes themselves, sees ours as a superset,
        # and adds nothing. Scoped set/restore: writes are synchronous and
        # this store is single-writer by contract (manifest commit).
        planned = "spark.sql.optimizer.plannedWrite.enabled"
        prev = self.spark.conf.get(planned, None)
        self.spark.conf.set(planned, "false")
        try:
            merged.write.partitionBy("tier", "day").mode("overwrite").parquet(staging)
        finally:
            if prev is None:
                self.spark.conf.unset(planned)
            else:
                self.spark.conf.set(planned, prev)
        back = self.spark.read.parquet(staging)
        per_key = {
            (r.tier, r.day): r.rows
            for r in back.groupBy(
                "tier", F.date_format("day", "yyyy-MM-dd").alias("day")
            )
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        }
        # a staged day outside `affected` means its existing rows were never
        # unioned in — committing would silently drop them. The invariant
        # (ts-derived touched_days covers every tier-bucket day) is cheap to
        # enforce here because per_key is collected anyway.
        missing = sorted({d for (_, d) in per_key} - set(affected))
        if missing:
            shutil.rmtree(staging, ignore_errors=True)
            raise ValueError(
                f"merge_tiers: staged days {missing} not covered by "
                f"affected={sorted(affected)} — existing data would be lost"
            )
        pointers: dict[str, dict[str, str]] = {}
        lineage = []
        for tier, day in sorted(per_key):
            src = os.path.join(staging, f"tier={tier}", f"day={day}")
            dst = self._day_dir(tier, day, run_id)
            if os.path.isdir(dst):
                shutil.rmtree(dst)  # replayed run_id: idempotent overwrite
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
            pointers.setdefault(tier, {})[day] = run_id
            size = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(dst)
                for f in fs
            )
            lineage.append(
                {"tier": tier, "day": day, "rows": per_key[(tier, day)], "bytes": size}
            )
        shutil.rmtree(staging, ignore_errors=True)
        return lineage, pointers

    def commit_run(
        self,
        run_id: str,
        watermark: str,
        lineage: list[dict],
        pointers: dict[str, dict[str, str]],
    ) -> None:
        """Atomically publish every staged tier version + watermark, then GC
        superseded version dirs (safe post-commit: readers only follow the
        manifest)."""
        old = {
            tier: dict(self.manifest.tiers.get(tier, {})) for tier in pointers
        }
        self.manifest.record_run(run_id, watermark, lineage, pointers)
        for tier, days in pointers.items():
            for day, ver in days.items():
                prev = old.get(tier, {}).get(day)
                if prev is not None and prev != ver:
                    shutil.rmtree(
                        self._day_dir(tier, day, prev), ignore_errors=True
                    )

    def expire(self, tier: str, ttl_days: int) -> list[str]:
        """TTL expiry: drop whole day partitions older than watermark - ttl
        (Iceberg: DELETE WHERE + expire_snapshots). Pointer removal commits
        first; dir deletion is post-commit cleanup."""
        if self.manifest.watermark is None:
            return []
        import datetime as dt

        wm = dt.datetime.fromisoformat(self.manifest.watermark)
        cutoff = (wm - dt.timedelta(days=ttl_days)).strftime("%Y-%m-%d")
        dropped = sorted(
            d for d in self.manifest.tiers.get(tier, {}) if d < cutoff
        )
        if not dropped:
            return dropped
        self.manifest.drop_days(tier, dropped)
        for day in dropped:
            shutil.rmtree(
                os.path.join(self._tier_path(tier), f"day={day}"), ignore_errors=True
            )
        return dropped

    def _day_files(self, tier: str, day: str, version: str) -> list[str]:
        d = self._day_dir(tier, day, version)
        return [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        ]

    def compact_tier(
        self,
        tier: str,
        run_id: str,
        target_bytes: int = 128 << 20,
        slack: float = 1.5,
    ) -> list[dict]:
        """Small-file compaction of committed day partitions (the Iceberg
        ``rewrite_data_files`` maintenance action).

        Every incremental MERGE writes ~shuffle.partitions files per
        affected (tier, day) — right for write parallelism, but a
        low-volume day then carries hundreds of KB-sized files whose
        open/footer cost dominates reads at 100 TB. For each committed day
        whose file count exceeds ``slack ×`` the ideal
        ``ceil(bytes / target_bytes)``, this rewrites that day into the
        ideal file count and swaps the manifest pointer atomically —
        readers never see a half-compacted day, and a crashed compaction
        leaves only an invisible staged version (same write-then-swap
        contract as MERGE; an already-committed ``run_id`` is a no-op, so
        replays are safe). Data is byte-identical by construction: the
        rewrite is a repartition of the same rows, no re-aggregation.

        One Spark job per compacted day, driver-looped: compaction is a
        background maintenance pass over the few days the size heuristic
        selects, not a data-path stage (on a real cluster the same policy
        runs as Iceberg's rewrite_data_files with commit conflicts handled
        by the table format). Returns lineage rows for the compacted days.
        """
        if self.manifest.has_run(run_id):
            return []
        pointers = self.manifest.tiers.get(tier, {})
        plan: list[tuple[str, str, int]] = []  # (day, old_version, n_target)
        for day, ver in sorted(pointers.items()):
            files = self._day_files(tier, day, ver)
            size = sum(os.path.getsize(f) for f in files)
            want = max(1, -(-size // target_bytes))
            if len(files) > slack * want:
                plan.append((day, ver, int(want)))
        if not plan:
            return []
        lineage = []
        new_pointers: dict[str, str] = {}
        staging = os.path.join(self.base, f"_staging-{run_id}")
        for day, ver, want in plan:
            df = self.read_versions(tier, {day: ver}).drop("day")
            stage_day = os.path.join(staging, f"day={day}")
            # hash by series key + re-sort: merge_tiers writes every day
            # SEGMENT-CONTIGUOUS and time-ordered (see the staged-write
            # comment above), and compress_points_colocated's zero-shuffle
            # path depends on that layout — a bare round-robin repartition
            # here would interleave segments and silently de-optimize every
            # post-compaction codec run (and worsen parquet delta encoding)
            (
                df.repartition(want, *SERIES_COLS)
                .sortWithinPartitions(*SERIES_COLS, "metric", "bucket_start")
                .write.mode("overwrite")
                .parquet(stage_day)
            )
            rows = self.spark.read.parquet(stage_day).count()
            dst = self._day_dir(tier, day, run_id)
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(stage_day, dst)
            new_pointers[day] = run_id
            size = sum(os.path.getsize(f) for f in self._day_files(tier, day, run_id))
            lineage.append(
                {"tier": tier, "day": day, "rows": rows, "bytes": size,
                 "compacted_to_files": want}
            )
        shutil.rmtree(staging, ignore_errors=True)
        self.commit_run(
            run_id, self.manifest.watermark, lineage, {tier: new_pointers}
        )
        return lineage
