"""retention_microbatch: late-data micro-batches into a bootstrapped store.

Set-up bootstraps a store whose history spans 31 days, more than the 1m
TTL (30 days, ``DEFAULT_TIERS``), so its oldest day is already expired from
1m but held in 1h/1d. Each operation merges one micro-batch through
``process_microbatch`` and then serves a dashboard read of the last seven
days of the 1h tier. A batch is mostly on-time rows, plus late rows for a
committed day and a few rows for a day expired from 1m, so every batch
reaches the merge, resurrection and expiry routing.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from contextlib import nullcontext

from pyspark.sql import functions as F

from perfbench.common import PROFILE_SETTINGS, Steps, dir_bytes, frame_hash, median, tail
from perfbench.trace import busy_share
from perfbench.workloads import OpResult, Workload
from tsprofiler_spark.config import DEFAULT_TIERS, Settings
from tsprofiler_spark.operators.ingest import derive_series
from tsprofiler_spark.operators.rollup import build_tiers
from tsprofiler_spark.plans.storage import RollupStore
from tsprofiler_spark.sources.transcripts import synthesize_transcripts
from tsprofiler_spark.streaming.ingest import process_microbatch

# bootstrap watermark: just after midnight, so every batch of the pool
# (on-time, late and expired rows alike) stays within one day per row kind
# and all batches touch the same number of day partitions
WM0 = dt.datetime(2025, 2, 1, 0, 15)
# bootstrap history: (conversations, turns, seconds between turns, offset
# of the first turn from WM0). Five recent days ending at WM0, plus a few
# hours 31 days back; only days with data cost set-up time.
BOOT = (
    (10, 720, 600, -dt.timedelta(seconds=719 * 600)),
    (2, 300, 60, -dt.timedelta(days=31)),
)
# per batch: (conversations, turns, offset of the first turn from WM0,
# advanced by one batch span per batch)
ON_TIME = (100, 60, dt.timedelta(minutes=1))
LATE = (20, 30, -dt.timedelta(days=3))
EXPIRED = (5, 10, -dt.timedelta(days=31))
POOL = 12  # batches generated; the loop stops early if it uses them all
STREAM_ID = "perfbench"
TIER_COLS = ("conv_id", "tool", "role", "metric", "bucket_start",
             "n", "s1", "s2", "vmin", "vmax")


class TracedStore(RollupStore):
    """``RollupStore`` whose methods record a layer span while a tracer is
    attached. ``read_versions`` is materialized (counted) inside its span so
    its scan is timed apart from the merge that consumes it."""

    tracer = None

    def _layer(self, name):
        return self.tracer.layer(name) if self.tracer else nullcontext()

    def merge_tiers(self, partials_by_tier, run_id, *args, **kw):
        tier = "1m" if "1m" in partials_by_tier else "coarse"
        with self._layer(f"plans.storage.merge_tiers.{tier}") as sp:
            lineage, pointers = super().merge_tiers(partials_by_tier, run_id, *args, **kw)
            if sp is not None:
                sp.counts["bytes_written"] += sum(p["bytes"] for p in lineage)
                sp.counts["files_written"] += sum(
                    len(self._day_files(t, d, v))
                    for t, days in pointers.items() for d, v in days.items())
        return lineage, pointers

    def read_versions(self, tier, pointers):
        if self.tracer is None or self.tracer.current == "plans.storage.read_tier":
            return super().read_versions(tier, pointers)
        with self.tracer.layer("plans.storage.read_versions") as sp:
            df = super().read_versions(tier, pointers)
            sp.counts["rows_read"] += df.count()
        return df

    def commit_run(self, *args, **kw):
        with self._layer("plans.storage.commit_run") as sp:
            super().commit_run(*args, **kw)
            if sp is not None:
                sp.counts["manifest_bytes"] += os.path.getsize(self.manifest.path)

    def expire(self, tier, ttl_days):
        with self._layer("plans.storage.expire") as sp:
            dropped = super().expire(tier, ttl_days)
            if sp is not None:
                sp.counts["days_dropped"] += len(dropped)
        return dropped


def _ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


class RetentionMicrobatch(Workload):
    name = "retention_microbatch"
    row_unit = "micro-batch rows"
    layers = (
        "plans.retention.watermark_scan", "plans.storage.merge_tiers.1m",
        "plans.storage.merge_tiers.coarse", "plans.storage.read_versions",
        "plans.storage.commit_run", "plans.storage.expire", "plans.storage.read_tier",
    )

    def prepare(self) -> None:
        spark = self.spark
        self.boot_dir = self.ws.sub("retention-boot")
        recent, old = (
            synthesize_transcripts(
                spark, n_convs=convs, max_turns=turns, seed=self.seed + i,
                zipf=False, base_ts=_ts(WM0 + offset), step_seconds=step)
            for i, (convs, turns, step, offset) in enumerate(BOOT))
        recent.unionByName(old).write.mode("overwrite").parquet(self.boot_dir)

        # one generator call per row kind: conversation c of the call lands
        # in batch c // convs + 1 as conversation c % convs, shifted by one
        # batch span per batch
        parts = []
        for i, (convs, turns, offset) in enumerate((ON_TIME, LATE, EXPIRED)):
            df = synthesize_transcripts(
                spark, n_convs=convs * POOL, max_turns=turns,
                seed=self.seed * 1009 + i, zipf=False,
                base_ts=_ts(WM0 + offset), step_seconds=60,
            )
            conv_no = F.substring("conv_id", 6, 6).cast("int")
            batch = (conv_no / convs).cast("int")
            parts.append(df.select(
                F.concat(F.lit("conv-"), F.lpad((conv_no % convs).cast("string"), 6, "0"))
                .alias("conv_id"),
                "turn_idx", "role", "text", "tool",
                (F.col("ts") + F.make_interval(mins=batch * turns)).alias("ts"),
                (batch + 1).alias("batch"),
            ))
        batches = parts[0].unionByName(parts[1]).unionByName(parts[2])
        self.batch_dir = self.ws.sub("retention-batches")
        batches.write.mode("overwrite").partitionBy("batch").parquet(self.batch_dir)
        self.batch_rows = {
            r["batch"]: r["count"]
            for r in spark.read.parquet(self.batch_dir).groupBy("batch").count().collect()
        }

        cls = TracedStore if self.traced else RollupStore
        self.store = cls(spark, self.ws.sub("retention-store"))
        self.boot_rows = spark.read.parquet(self.boot_dir).count()
        process_microbatch(spark.read.parquet(self.boot_dir), 0, self.store,
                           stream_id=STREAM_ID, tiers_cfg=DEFAULT_TIERS)
        self.next_batch = 1

    def _merge(self, k: int):
        batch = self.spark.read.parquet(os.path.join(self.batch_dir, f"batch={k}"))
        return process_microbatch(batch, k, self.store,
                                  stream_id=STREAM_ID, tiers_cfg=DEFAULT_TIERS)

    def _dashboard_days(self) -> tuple[str, str]:
        """The last seven days up to the watermark, inclusive."""
        wm = dt.datetime.fromisoformat(self.store.manifest.watermark)
        return (wm - dt.timedelta(days=6)).strftime("%Y-%m-%d"), wm.strftime("%Y-%m-%d")

    def _dashboard(self):
        """The 1h tier over the dashboard days, aggregated per day and collected."""
        start, end = self._dashboard_days()
        df = self.store.read_tier("1h", start_day=start, end_day=end)
        return df.groupBy("day").agg(F.sum("n"), F.sum("s1")).collect()

    def warmup(self) -> None:
        """One merge: the first after the bootstrap costs about 30% more CPU
        than the later ones (JIT). Store size is taken here, at a state that
        does not depend on how many operations the timed loop fits."""
        self.op()
        committed = sum(
            dir_bytes(self.store._day_dir(tier, day, ver))
            for tier, days in self.store.manifest.tiers.items()
            for day, ver in days.items())
        self.bytes_per_row = committed / (self.boot_rows + self.batch_rows[1])

    def has_more(self) -> bool:
        return self.next_batch <= POOL

    def op(self) -> OpResult:
        k = self.next_batch
        self.next_batch += 1
        steps = Steps()
        lineage = steps.timed("merge", lambda: self._merge(k))
        steps.timed("read", self._dashboard)
        return OpResult(steps, self.batch_rows[k], extra={"lineage": lineage, "batch": k})

    def check(self, results):
        """Store tiers against a one-shot ``build_tiers`` of every merged
        row (the bootstrap plus batches 1..next-1): 1h and 1d equal in full;
        1m equal on the days never expired (those at or after the final TTL
        cutoff)."""
        merged = self.spark.read.parquet(self.batch_dir).where(
            F.col("batch") < self.next_batch).drop("batch")
        ingested = self.spark.read.parquet(self.boot_dir).unionByName(merged)
        want = build_tiers(derive_series(ingested), Settings(**PROFILE_SETTINGS))
        wm = dt.datetime.fromisoformat(self.store.manifest.watermark)
        cutoff = (wm - dt.timedelta(days=DEFAULT_TIERS["1m"]["ttl_days"])).strftime("%Y-%m-%d")
        want["1m"] = want["1m"].where(F.date_format("bucket_start", "yyyy-MM-dd") >= cutoff)
        tiers = ("1m", "1h", "1d")
        got = [self.store.read_tier(t) for t in tiers]
        if any(g is None for g in got):
            return [False] * len(results)

        def stacked(frames):
            out = [f.select(F.lit(t).alias("tier"), *TIER_COLS) for t, f in zip(tiers, frames)]
            return out[0].unionByName(out[1]).unionByName(out[2])

        cols = ("tier", *TIER_COLS)
        ok = frame_hash(stacked(got), cols) == frame_hash(stacked([want[t] for t in tiers]), cols)
        return [ok] * len(results)

    def out_bytes_per_row(self, results) -> float:
        """Committed store bytes per row ingested by set-up."""
        return self.bytes_per_row

    def report(self, results):
        merge = [r.steps.seconds["merge"] for r in results]
        read = [r.steps.seconds["read"] for r in results]
        pct, merge_tail = tail(merge)
        out = [
            ("merge_p50_s", median(merge), "s", len(merge)),
            ("read_p50_s", median(read), "s", len(read)),
        ]
        if pct is not None:
            out.append((f"merge_tail_s(p{pct:.0f})", merge_tail, "s", len(merge)))
        return out

    # -- traced run ---------------------------------------------------------

    def traced_op(self, tracer) -> OpResult:
        k = self.next_batch
        self.next_batch += 1
        self.store.tracer = tracer
        try:
            with tracer.layer("plans.retention.batch") as sp:
                self._merge(k)
                sp.counts["input_rows"] += self.batch_rows[k]
            with tracer.layer("plans.storage.read_tier") as sp:
                start, end = self._dashboard_days()
                sp.counts["files_opened"] += sum(
                    len(self.store._day_files("1h", d, v))
                    for d, v in self.store.manifest.tiers["1h"].items() if start <= d <= end)
                self._dashboard()
        finally:
            self.store.tracer = None
        return OpResult(Steps(), self.batch_rows[k])

    def untraced_op(self) -> OpResult:
        t0 = time.time()
        res = self.op()
        res.extra["window"] = (t0, t0 + res.steps.seconds["merge"])
        return res

    def layer_metrics(self, rep, traced, untraced) -> None:
        for layer in self.layers:
            rep.standard(layer)
        for layer in ("plans.storage.merge_tiers.1m", "plans.storage.merge_tiers.coarse"):
            c = rep.counts(layer)
            rep.set(layer, "files_written", c["files_written"] / rep.n)
            rep.set(layer, "bytes_written", c["bytes_written"] / rep.n)
        new_rows = rep.counts("plans.retention.batch")["input_rows"]
        rep.set("plans.storage.read_versions", "rows_read_per_new_row",
                rep.counts("plans.storage.read_versions")["rows_read"] / new_rows)
        rep.set("plans.storage.commit_run", "manifest_bytes",
                rep.counts("plans.storage.commit_run")["manifest_bytes"] / rep.n)
        rep.set("plans.storage.expire", "days_dropped",
                rep.counts("plans.storage.expire")["days_dropped"] / rep.n)
        c = rep.counts("plans.storage.read_tier")
        rep.set("plans.storage.read_tier", "files_opened", c["files_opened"] / rep.n)
        rep.set("plans.storage.read_tier", "bytes_read",
                rep.evlog.totals(rep.jobs("plans.storage.read_tier"))["input_bytes"] / rep.n)
        # batch-level figures come from the untraced batches of the run:
        # tracing adds jobs (the read_versions counts) that would skew them
        jobs, busy, wall, written, read = 0, 0.0, 0.0, 0, 0
        for r in untraced:
            start, end = r.extra["window"]
            batch_jobs = rep.evlog.jobs_in(start, end)
            jobs += len(batch_jobs)
            busy += busy_share(batch_jobs, start, end) * (end - start)
            wall += end - start
            written += sum(p["bytes"] for p in r.extra["lineage"])
            read += dir_bytes(os.path.join(self.batch_dir, f"batch={r.extra['batch']}"))
        n = max(len(untraced), 1)
        rep.set("plans.retention.batch", "jobs_per_batch", jobs / n)
        rep.set("plans.retention.batch", "driver_idle_share", 1 - busy / wall if wall else 0.0)
        rep.set("plans.retention.batch", "write_amp", written / read if read else 0.0)
