"""Profile part: a full scale-mode profile of one Zipf-skewed corpus.

Loads the JVM-side gap-fill/bucketize windows and the profile group-bys.
The hottest conversation stays far below ``SEGMENT_AUTO_ROWS``, so the skew
gate keeps the default (unsegmented) path and straggler skew shows in
``core_util``.
"""

from __future__ import annotations

import math

from pyspark import StorageLevel
from pyspark.sql import functions as F

from perfbench import host
from perfbench.common import PROFILE_SETTINGS, Steps, frame_hash, median
from perfbench.workloads import OpResult, Workload, op_on
from tsprofiler_spark.config import Settings
from tsprofiler_spark.kernel.profiler import ReferenceProfiler
from tsprofiler_spark.operators.ingest import gap_fill_series, gap_fill_slim
from tsprofiler_spark.operators.profile import (
    assemble_profile, bucketize, chunk_stats, series_stats,
    transition_counts, transition_probs, with_state,
)
from tsprofiler_spark.plans.pipeline import auto_segment_turns, profile_pipeline
from tsprofiler_spark.sources.transcripts import synthesize_transcripts

N_CONVS = 2000
MAX_TURNS = 2000
# warm-up corpus: the same plans on a small input, so the JIT and code
# generation are paid in set-up for less than a full operation
WARM_CONVS, WARM_TURNS = 50, 200
STEP_SECONDS = 60
PROFILE_COLS = ("conv_id", "tool", "role", "metric", "profile_json")
SETTINGS = Settings(**PROFILE_SETTINGS)


def _sample(df):
    """A fixed sample of conversations: the three hottest plus every conv
    whose crc32 falls in one fortieth of the hash range."""
    hot = F.col("conv_id").isin("conv-000000", "conv-000001", "conv-000002")
    return df.where(hot | (F.crc32("conv_id") % 40 == 0))


def _digest(profile) -> tuple[int, int, int]:
    """Materialize the profile: (rows, order-independent hash, total
    ``profile_json`` bytes)."""
    return frame_hash(profile, PROFILE_COLS, F.sum(F.length("profile_json")))


class ProfileBatch(Workload):
    layers = (
        "plans.pipeline.skew_gate", "operators.ingest.gap_fill",
        "operators.profile.bucketize", "operators.profile.chunk_stats",
        "operators.profile.transitions", "operators.profile.series_stats",
        "operators.profile.assemble_profile",
    )

    def prepare(self) -> None:
        for attr, convs, turns in (("warm_dir", WARM_CONVS, WARM_TURNS),
                                   ("input_dir", N_CONVS, MAX_TURNS)):
            path = self.ws.sub(attr.replace("_", "-"))
            synthesize_transcripts(
                self.spark, n_convs=convs, max_turns=turns, seed=self.seed,
                zipf=True, step_seconds=STEP_SECONDS,
            ).write.mode("overwrite").parquet(path)
            setattr(self, attr, path)
        self.n_rows = self.spark.read.parquet(self.input_dir).count()

    def transcripts(self):
        return self.spark.read.parquet(self.input_dir)

    def _run(self, steps: Steps):
        stages = steps.timed("pipeline", lambda: profile_pipeline(
            self.transcripts(), SETTINGS, do_gap_fill=True, step_seconds=STEP_SECONDS))
        try:
            digest = steps.timed("profile", lambda: _digest(stages["profile"]))
        finally:
            stages["chunks"].unpersist()
        return stages, digest

    def warmup(self) -> None:
        op_on(self, self.warm_dir)

    def op(self) -> OpResult:
        steps = Steps()
        self.last_stages, digest = self._run(steps)
        return OpResult(steps, self.n_rows, output=digest)

    def check(self, results):
        """Every operation's profile digest equals the last one's, whose
        sampled series match the driver-side kernel."""
        digest = results[-1].output
        ok = _matches_kernel(self.last_stages)
        return [ok and r.output == digest for r in results]

    def report(self, results):
        secs = [r.steps.seconds["pipeline"] + r.steps.seconds["profile"] for r in results]
        return [("profile_rows_per_s", self.n_rows * len(secs) / sum(secs),
                 "input turns/s", len(secs)),
                ("profile_p50_s", median(secs), "s", len(secs))]

    # -- traced run ---------------------------------------------------------

    def traced_op(self, tracer) -> OpResult:
        """The pipeline of ``profile_pipeline`` (gap-filled, unsegmented)
        layer by layer, each layer's output persisted and counted so its
        work is not fused into the next."""
        pinned = []

        def pin(df):
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            pinned.append(df)
            return df, df.count()

        s = SETTINGS
        t = self.transcripts()
        with tracer.layer("plans.pipeline.skew_gate"):
            seg = auto_segment_turns(t)
        if seg is not None:
            raise RuntimeError("corpus tripped the skew gate; resize it")
        with tracer.layer("operators.ingest.gap_fill") as sp:
            series, n = pin(gap_fill_series(
                gap_fill_slim(t, None, step_seconds=STEP_SECONDS)))
            sp.counts["rows_in"] += self.n_rows
            sp.counts["rows_out"] += n
        with tracer.layer("operators.profile.bucketize"):
            bucketed, _ = pin(bucketize(series, s.buffer_size, order_cols=("turn_idx",)))
        with tracer.layer("operators.profile.chunk_stats") as sp:
            chunks, n = pin(chunk_stats(bucketed, s))
            sp.counts["rows_out"] += n
        with tracer.layer("operators.profile.transitions") as sp:
            probs, n = pin(transition_probs(
                transition_counts(with_state(chunks, s), s), s))
            sp.counts["rows_out"] += n
        with tracer.layer("operators.profile.series_stats"):
            stats, _ = pin(series_stats(chunks, s))
        with tracer.layer("operators.profile.assemble_profile"):
            digest = _digest(assemble_profile(probs, stats, s))
        for df in pinned:
            df.unpersist()
        return OpResult(Steps(), self.n_rows, output=digest)

    def after_trace(self) -> None:
        """Single-core reference: one profile at ``local[1]`` in the same
        JVM, so parallel efficiency on this host is visible."""
        self.spark, _ = host.restart_session(self.spark, self.ws, 1)
        steps = Steps()
        self._run(steps)
        self.one_core_rows_per_s = self.n_rows / steps.total

    def layer_metrics(self, rep, traced, untraced) -> None:
        for layer in self.layers:
            rep.standard(layer)
        gf = rep.counts("operators.ingest.gap_fill")
        rep.set("operators.ingest.gap_fill", "fill_ratio", gf["rows_out"] / gf["rows_in"])
        for layer in ("operators.profile.chunk_stats", "operators.profile.transitions"):
            rep.set(layer, "rows_out", rep.counts(layer)["rows_out"] / rep.n)
        rep.set("plans.pipeline", "profile_1core_rows_per_s", self.one_core_rows_per_s)


def _matches_kernel(stages) -> bool:
    """The sampled series' profiles equal ``ReferenceProfiler`` fed the same
    ordered gap-filled series: transitions bit-exact, stats count/min/max
    exact, avg and stddevsum to float tolerance."""
    profs: dict = {}
    rows = _sample(stages["series"]).orderBy(
        "conv_id", "tool", "role", "turn_idx").collect()
    for r in rows:
        key = (r.conv_id, r.tool, r.role)
        if key not in profs:
            profs[key] = ReferenceProfiler(SETTINGS)
        profs[key].put([(r.metric, r.value)])
    got = {(r.conv_id, r.tool, r.role): r for r in _sample(stages["profile"]).collect()}
    checked = 0
    for key, prof in profs.items():
        tx = {t["metric"]: t for t in prof.overall_counter.get_tx()}
        if "len_text" not in tx:
            if key in got:
                return False
            continue
        want, row = tx["len_text"], got.get(key)
        if row is None:
            return False
        have = dict(row.transitions)
        if set(have) != set(want["transitions"]):
            return False
        for ident, step in want["transitions"].items():
            if (list(have[ident].nextProbs) != step["nextProbs"]
                    or have[ident].probability != step["probability"]):
                return False
        st = want["stats"]
        if (row.stats["count"] != st.count or row.stats["min"] != st.min
                or row.stats["max"] != st.max
                or not math.isclose(row.stats["avg"], st.avg, rel_tol=1e-9)
                or not math.isclose(row.stats["stddevsum"], st.stddev_sum,
                                    rel_tol=1e-6, abs_tol=1e-6)):
            return False
        checked += 1
    return checked >= 10
