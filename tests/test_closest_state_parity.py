"""closest_state (Spark) and closest_state_sql (DuckDB) against the kernel's
closest_discretize, bit for bit, on every bucket bound and its neighbours."""

import math

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tsprofiler_spark.functions import closest_state, closest_state_sql
from tsprofiler_spark.kernel.discretize import closest_discretize

CONFIGS = [(s, 0.0, hi) for hi in (128.0, 100.0) for s in range(2, 17)]


def _grid() -> list[float]:
    # the 0.1 grid holds 32.0, 83.2, 96.0 and 108.8, where a rounded
    # floor(v/step + 0.5) and the kernel part ways for 10 states over
    # [0, 128] (32.0 falls between two buckets' bounds: kernel state 0)
    vals = {round(k * 0.1, 1) for k in range(-20, 1320)}
    vals.update(k * 0.05 for k in range(-40, 2640))
    for s, lo, hi in CONFIGS:
        step = (hi - lo) / s
        for i in range(s):
            for b in (i * step - 0.5 * step, i * step + 0.5 * step, i * step):
                vals.update((b, math.nextafter(b, -math.inf), math.nextafter(b, math.inf)))
    return sorted(vals)


def test_closest_state_matches_kernel_on_spark_and_duckdb(spark):
    values = _grid()
    want = {
        i: [closest_discretize(v, s, lo, hi) for v in values]
        for i, (s, lo, hi) in enumerate(CONFIGS)
    }

    df = spark.createDataFrame([(v,) for v in values] + [(None,)], "v double")
    cols = [
        closest_state(F.col("v"), s, lo, hi).alias(f"c{i}")
        for i, (s, lo, hi) in enumerate(CONFIGS)
    ]
    rows = df.select("v", *cols).collect()
    by_v = {r.v: r for r in rows}

    pdf = pd.DataFrame({"v": np.array(values + [np.nan])})  # NaN reads as NULL
    con = duckdb.connect()
    con.register("vals", pdf)
    sql = ", ".join(
        f"{closest_state_sql('v', s, lo, hi)} AS c{i}"
        for i, (s, lo, hi) in enumerate(CONFIGS)
    )
    duck = con.execute(f"SELECT v, {sql} FROM vals").fetchdf()

    for i, (s, lo, hi) in enumerate(CONFIGS):
        got_spark = [by_v[v][f"c{i}"] for v in values]
        got_duck = duck[f"c{i}"].tolist()[: len(values)]
        bad = [
            (v, w, a, b)
            for v, w, a, b in zip(values, want[i], got_spark, got_duck)
            if not (w == a == b)
        ]
        assert not bad, (s, lo, hi, bad[:5])
        # NULL keeps its historical state 0 on both engines
        assert by_v[None][f"c{i}"] == 0
        assert duck[f"c{i}"].tolist()[len(values)] == 0

