"""The benchmark's workloads. Each one is a closed loop of operations that
call the engine's public entry points; only ``traced_op`` reaches the
lower-level functions, to time each layer on its own."""

from __future__ import annotations

from dataclasses import dataclass, field

from perfbench.common import Steps


@dataclass
class OpResult:
    steps: Steps
    rows: int            # input rows the operation processed
    output: object = None  # what the end-of-run check compares
    extra: dict = field(default_factory=dict)
    cpu_s: float = 0.0   # engine CPU seconds, set by the timed loop
    jit_s: float = 0.0   # of which the JVM's JIT compiler threads


class Workload:
    """One workload: set-up, a warm-up, the timed operation, its check and
    the traced variant of the operation."""

    name = ""
    row_unit = "rows"  # what a row of ``rows_per_s`` is
    layers: tuple = ()  # the layers a traced operation attributes time to

    def __init__(self, spark, ws, seed: int, cores: int):
        self.spark, self.ws, self.seed, self.cores = spark, ws, seed, cores
        self.traced = False  # set before ``prepare`` for a traced run

    def prepare(self) -> None:
        """Generate the inputs (and any store) under the workspace."""
        raise NotImplementedError

    def warmup(self) -> None:
        """Untimed operations that fill caches and compile code paths."""
        raise NotImplementedError

    def has_more(self) -> bool:
        return True

    def op(self) -> OpResult:
        raise NotImplementedError

    def check(self, results: list[OpResult]) -> list[bool]:
        """Whether each operation's output is correct."""
        raise NotImplementedError

    def out_bytes_per_row(self, results: list[OpResult]) -> float:
        """Output bytes per input row (after ``check``)."""
        raise NotImplementedError

    def report(self, results: list[OpResult]) -> list[tuple[str, float, str, int]]:
        """Workload-specific metrics as (name, value, unit, samples)."""
        return []

    # traced run
    def traced_op(self, tracer) -> OpResult:
        """The operation layer by layer, each layer in a ``tracer`` span."""
        raise NotImplementedError

    def untraced_op(self) -> OpResult:
        """The plain operation inside a traced run (for the overhead)."""
        return self.op()

    def after_trace(self) -> None:
        """Work done after the traced loop and its check."""

    def layer_metrics(self, rep, traced: list[OpResult], untraced: list[OpResult]) -> None:
        raise NotImplementedError


def op_on(part: Workload, corpus_dir: str) -> None:
    """One operation of ``part`` with its ``input_dir`` swapped for
    ``corpus_dir`` (the warm-up corpus)."""
    main, part.input_dir = part.input_dir, corpus_dir
    try:
        part.op()
    finally:
        part.input_dir = main


class ProfileCodec(Workload):
    """The batch job over one corpus: its profile, then its 1m tier
    compressed, decoded and a sample parity-folded (see the two parts)."""

    name = "profile_codec"
    row_unit = "input turns"

    def __init__(self, spark, ws, seed: int, cores: int):
        from perfbench.workloads.codec_fold import CodecFold
        from perfbench.workloads.profile_batch import ProfileBatch

        super().__init__(spark, ws, seed, cores)
        self.profile = ProfileBatch(spark, ws, seed, cores)
        self.codec = CodecFold(spark, ws, seed, cores)
        self.layers = self.profile.layers + self.codec.layers

    def prepare(self) -> None:
        self.profile.prepare()
        self.codec.input_dir = self.profile.input_dir
        self.codec.warm_dir = self.profile.warm_dir
        self.codec.prepare()

    def warmup(self) -> None:
        """Both parts on the small corpus, then one operation on the real
        one: the first full-size operation still pays for most of the JIT
        work and its CPU time swings with how far compiling has got."""
        self.profile.warmup()
        self.codec.warmup()
        self.op()

    @staticmethod
    def _join(p: OpResult, c: OpResult) -> OpResult:
        return OpResult(Steps({**p.steps.seconds, **c.steps.seconds}), p.rows, output=(p, c))

    def op(self) -> OpResult:
        return self._join(self.profile.op(), self.codec.op())

    def _parts(self, results):
        return [r.output[0] for r in results], [r.output[1] for r in results]

    def check(self, results):
        p, c = self._parts(results)
        return [a and b for a, b in zip(self.profile.check(p), self.codec.check(c))]

    def out_bytes_per_row(self, results) -> float:
        """Encoded bytes per 1m point; the corpus has one point per turn."""
        return self.codec.out_bytes_per_row(self._parts(results)[1])

    def report(self, results):
        p, c = self._parts(results)
        return self.profile.report(p) + self.codec.report(c)

    def traced_op(self, tracer) -> OpResult:
        return self._join(self.profile.traced_op(tracer), self.codec.traced_op(tracer))

    def after_trace(self) -> None:
        self.profile.after_trace()
        self.spark = self.profile.spark

    def layer_metrics(self, rep, traced, untraced) -> None:
        for part, i in ((self.profile, 0), (self.codec, 1)):
            part.layer_metrics(rep, [r.output[i] for r in traced],
                               [r.output[i] for r in untraced])


def get(name: str):
    from perfbench.workloads.retention_microbatch import RetentionMicrobatch

    table = {w.name: w for w in (ProfileCodec, RetentionMicrobatch)}
    if name not in table:
        raise SystemExit(f"unknown workload {name!r}; choose from {sorted(table)}")
    return table[name]
