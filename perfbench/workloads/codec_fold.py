"""Codec part: compress, decode and parity-fold across the Arrow/pandas
boundary.

One operation is ``compress_points(build_tiers(derive_series(t))["1m"])``
written to parquet, the exact ``decompress_points`` round trip of those
blobs, and ``parity_profiles`` on a fixed sample of series with periods and
phases on. Nearly all of its time is in ``mapInPandas``/``applyInPandas``.
The corpus ``t`` is the profile part's (``input_dir`` and ``warm_dir`` are
set before ``prepare``).
"""

from __future__ import annotations

import json

from pyspark import StorageLevel
from pyspark.sql import functions as F

from perfbench.common import PARITY_SETTINGS, PROFILE_SETTINGS, Steps, frame_hash
from perfbench.workloads import OpResult, Workload, op_on
from tsprofiler_spark.config import Settings
from tsprofiler_spark.kernel.profiler import ReferenceProfiler
from tsprofiler_spark.operators.compress import compress_points, decompress_points
from tsprofiler_spark.operators.ingest import derive_series
from tsprofiler_spark.operators.rollup import build_tiers
from tsprofiler_spark.plans.parity import parity_profiles

POINT_COLS = ("conv_id", "tool", "role", "metric", "tier", "bucket_start", "avg")


def _sample(series):
    """The parity fold's fixed sample: one conversation in 32."""
    return series.where(F.crc32("conv_id") % 32 == 0)


class CodecFold(Workload):
    layers = ("operators.rollup.build_tiers", "operators.compress.compress_points",
              "operators.compress.decompress_points", "plans.parity.parity_profiles")
    input_dir = warm_dir = ""

    def prepare(self) -> None:
        self.blob_dir = self.ws.sub("codec-blobs")

    def _series(self):
        return derive_series(self.spark.read.parquet(self.input_dir))

    def _tier_1m(self):
        return build_tiers(self._series(), Settings(**PROFILE_SETTINGS))["1m"]

    def _compress(self, tier_1m) -> None:
        compress_points(tier_1m).write.mode("overwrite").parquet(self.blob_dir)

    def _decode(self):
        return frame_hash(decompress_points(self.spark.read.parquet(self.blob_dir)),
                          POINT_COLS)

    def _fold(self) -> dict:
        rows = parity_profiles(_sample(self._series()), Settings(**PARITY_SETTINGS)).collect()
        return {(r.conv_id, r.tool, r.role): r.profile_json for r in rows}

    def warmup(self) -> None:
        op_on(self, self.warm_dir)

    def op(self) -> OpResult:
        steps = Steps()
        steps.timed("compress", lambda: self._compress(self._tier_1m()))
        decoded = steps.timed("decode", self._decode)
        folded = steps.timed("fold", self._fold)
        return OpResult(steps, decoded[0], output=(decoded, folded))

    def check(self, results):
        """The round trip reproduces the 1m tier exactly, and the fold equals
        ``ReferenceProfiler`` run on the driver over each sampled series."""
        want_points = frame_hash(self._tier_1m(), POINT_COLS)
        want_fold, self.n_fold_rows = _kernel_profiles(_sample(self._series()))
        sizes = self.spark.read.parquet(self.blob_dir).agg(
            F.sum(F.length("ts_dod")), F.sum(F.length("points_gorilla")),
            F.sum("n_points")).collect()[0]
        self.blob_sizes = tuple(int(x) for x in sizes)
        return [r.output[0] == want_points and r.output[1] == want_fold
                for r in results]

    def out_bytes_per_row(self, results) -> float:
        """Encoded bytes (timestamps + values) per 1m point (after ``check``)."""
        ts, vals, n = self.blob_sizes
        return (ts + vals) / n

    def report(self, results):
        def rate(step, n):
            secs = [r.steps.seconds[step] for r in results]
            return n * len(secs) / sum(secs)

        n, points = len(results), results[-1].rows
        return [
            ("codec_points_per_s", rate("compress", points), "points/s", n),
            ("decode_points_per_s", rate("decode", points), "points/s", n),
            ("fold_rows_per_s", rate("fold", self.n_fold_rows), "rows/s", n),
            ("bytes_per_point", self.out_bytes_per_row(results), "B/point", 1),
        ]

    # -- traced run ---------------------------------------------------------

    def traced_op(self, tracer) -> OpResult:
        with tracer.layer("operators.rollup.build_tiers"):
            tier_1m = self._tier_1m().persist(StorageLevel.MEMORY_AND_DISK)
            tier_1m.count()
        with tracer.layer("operators.compress.compress_points"):
            self._compress(tier_1m)
        with tracer.layer("operators.compress.decompress_points"):
            decoded = self._decode()
        with tracer.layer("plans.parity.parity_profiles"):
            folded = self._fold()
        tier_1m.unpersist()
        return OpResult(Steps(), decoded[0], output=(decoded, folded))

    def layer_metrics(self, rep, traced, untraced) -> None:
        for layer in self.layers:
            rep.standard(layer)
        ts, vals, n = self.blob_sizes
        rep.set("codec", "ts_bytes_per_point", ts / n)
        rep.set("codec", "value_bytes_per_point", vals / n)


def _kernel_profiles(sample) -> tuple[dict, int]:
    """Driver-side reference: each sampled series fed turn by turn, in
    (ts, turn_idx) arrival order, through ``ReferenceProfiler.put``.
    Returns ({series: profile_json}, rows folded)."""
    settings = Settings(**PARITY_SETTINGS)
    profs: dict = {}
    rows = sample.orderBy("conv_id", "tool", "role", "ts", "turn_idx").collect()
    for r in rows:
        key = (r.conv_id, r.tool, r.role)
        if key not in profs:
            profs[key] = ReferenceProfiler(settings)
        profs[key].put([(r.metric, r.value)])
    return {k: json.dumps(p.get_profile(), sort_keys=True) for k, p in profs.items()}, len(rows)
