"""``incremental``: the incremental engine, in one process.

First the paper's per-update latency, in the reference harness shapes,
through each pipeline's foreachBatch body ``process_epoch(df, epoch_id)``:

- ``IncrementalScalerPipeline``, rounding (-2, 0), over a base of
  ``scaler_base`` rows: single-row inserts (driver-local fast path),
  ``retractions`` single-row retractions of base rows (distributed
  affected-keys path) and ``bulk_epochs`` bulk epochs of ``bulk_rows``
  rows (full re-encode cascade).
- ``IncrementalMultiScalerPipeline``, 21 columns, rounding (-2, -1),
  over ``multi_base`` rows: single-row inserts.
- ``DriverVocabularyPipeline`` over ``dict_base`` rows of 100 uniques:
  single-row inserts, a new unique every 20th.

The scaler takes ``scaler_warmup`` untimed inserts, since the JVM needs
hundreds of updates to compile its update path, then ``scaler_updates``
timed ones, enough for a p90, in ``ROUNDS`` blocks: each block's delta
DataFrames are built before it, and the CPU clock is read around its
updates, run back to back. Per-update CPU varies by a third and more
from block to block, so the figure is the mean of the middle half of
the blocks' values. Then the windowed count drains (see
``perfbench/streams.py``). These two phases give the end-to-end figures.
What only the per-layer figures need follows them, in traced runs only,
so that they run in the same process state either way: the stream-stream
join, the other two pipelines' base fits with ``warmup_updates`` untimed
and ``other_updates`` timed inserts each (enough for a p50), an untimed
and the timed retraction pairs, and the bulk epochs.

The base values come in mirrored pairs around the column mean.
Single-row inserts come in quadruples (a, b, -a, -b) of standard scores
with a^2 + b^2 = 2, so that every two of them leave the mean square
where it was and every four leave mean and variance exactly where they
were, and the scaler's retractions take base pairs of standard score
within 0.1 of +/-1: on a base of 20000 rows or more, single rows move
the mean and the variance by far less than their rounding steps (0.01
and 1), whatever the seed. (Plain random pairs let the variance drift
across a step within a hundred updates for some seeds, and then single
rows cascade.) Each bulk epoch is centred half a standard
deviation off the scaler's mean, alternately above and below, which
moves the rounded variance, so every bulk epoch cascades. Whether an
epoch cascades is therefore the same for every seed.

The end-to-end figures are the CPU time, of this process and the JVM
together, of the scaler's single-row update (``op_cpu_ms``) and the
windowed count's sequences per CPU second (``items_per_cpu_s``); the
wall-clock times are per-layer figures. After the timed work every
pipeline's current output is compared with a batch refit of the same
inputs, and each stream's sink with a batch recompute.
"""

from __future__ import annotations

import math
import os
import sys
import time
from contextlib import nullcontext
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import streams
from perfbench.harness import (
    Context,
    JobCounter,
    Outcome,
    TimedSink,
    interquartile_mean,
    median,
    percentile,
    run_checks,
)

SCALER_MEAN, SCALER_SD = 100.0, 25.0
MULTI_COLS = [f"x{i}" for i in range(21)]
MULTI_SD = math.sqrt(0.2)  # variance mid-way between two (-1)-rounding steps
UNIQUES = 100
ROUNDS = 20
T0 = datetime(2024, 1, 1)


def _mirrored(rng, n: int) -> np.ndarray:
    """n standard scores, n even, as adjacent +/- pairs, scaled to unit
    variance: positions 2i and 2i + 1 mirror each other."""
    z = rng.standard_normal(n // 2)
    z = np.column_stack([z, -z]).ravel()
    return z / np.sqrt(np.mean(z * z))


def _balanced(rng, n: int) -> np.ndarray:
    """n standard scores, n a multiple of 4, in quadruples (a, b, -a, -b)
    with a^2 + b^2 = 2: each pair has mean square 1, each quadruple mean 0
    as well."""
    a = rng.uniform(0.0, math.sqrt(2.0), n // 4)
    b = np.sqrt(2.0 - a * a)
    return np.column_stack([a, b, -a, -b]).ravel()


def _write(pdf: pd.DataFrame, path: str) -> str:
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        path,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    return path


def prepare(ctx: Context) -> dict:
    return {"encoders": _prepare_encoders(ctx), "streams": streams.prepare(ctx)}


def _prepare_encoders(ctx: Context) -> dict:
    p, rng = ctx.params, np.random.default_rng(ctx.seed)
    d = os.path.join(ctx.workdir, "inputs")
    os.makedirs(d, exist_ok=True)
    with ctx.tracer.span("sources.write_base"):
        n = p["scaler_base"]
        scaler = pd.DataFrame(
            {
                "row_id": np.arange(n, dtype="int64"),
                "x": SCALER_MEAN + SCALER_SD * _mirrored(rng, n),
                "diff": np.ones(n, dtype="int64"),
            }
        )
        bulk = []
        for k in range(p["bulk_epochs"]):
            m = p["bulk_rows"]
            shift = SCALER_SD / 2 if k % 2 == 0 else -SCALER_SD / 2
            bulk.append(
                _write(
                    pd.DataFrame(
                        {
                            "row_id": np.arange(m, dtype="int64") + 10_000_000 * (k + 1),
                            "x": SCALER_MEAN + shift + SCALER_SD * _mirrored(rng, m),
                            "diff": np.ones(m, dtype="int64"),
                        }
                    ),
                    f"{d}/bulk{k}.parquet",
                )
            )
        m = p["multi_base"]
        multi = {"row_id": np.arange(m, dtype="int64")}
        for j, c in enumerate(MULTI_COLS):
            multi[c] = j + MULTI_SD * _mirrored(rng, m)
        multi["diff"] = np.ones(m, dtype="int64")
        vocab = pd.DataFrame(
            {
                "token": [str(i % UNIQUES) for i in range(p["dict_base"])],
                "diff": np.ones(p["dict_base"], dtype="int64"),
                # UTC-adjusted, so Spark reads a TIMESTAMP like the deltas
                "event_time": pd.to_datetime([T0] * p["dict_base"]).tz_localize("UTC"),
            }
        )
        paths = {
            "scaler": _write(scaler, f"{d}/scaler.parquet"),
            "multi": _write(pd.DataFrame(multi), f"{d}/multi.parquet"),
            "dict": _write(vocab, f"{d}/dict.parquet"),
            "bulk": bulk,
        }
    # single-row deltas in variance-neutral quadruples
    n_single = -(-(p["warmup_updates"] + p["scaler_warmup"] + p["scaler_updates"]) // 4) * 4
    paths["scaler_singles"] = SCALER_MEAN + SCALER_SD * _balanced(rng, n_single)
    paths["multi_singles"] = np.stack(
        [j + MULTI_SD * _balanced(rng, n_single) for j in range(len(MULTI_COLS))],
        axis=1,
    )
    # retract base rows in mirrored pairs (rows 2i and 2i + 1) of
    # standard score near +/-1; the first pair is the warm-up
    z = (scaler["x"].to_numpy()[0::2] - SCALER_MEAN) / SCALER_SD
    near_one = np.flatnonzero(np.abs(np.abs(z) - 1.0) < 0.1)
    half = rng.choice(near_one, size=p["retractions"] // 2 + 1, replace=False)
    paths["retract_ids"] = np.concatenate([[2 * i, 2 * i + 1] for i in half]).astype("int64")
    paths["scaler_x"] = scaler["x"].to_numpy()
    return paths


class _Lane:
    """One pipeline with its two sinks wrapped and its jobs counted."""

    def __init__(self, ctx: Context, pipe, jobs: JobCounter):
        self.ctx, self.pipe, self.jobs = ctx, pipe, jobs
        self.sinks = [TimedSink(pipe.input_sink, ctx.tracer), TimedSink(pipe.output_sink, ctx.tracer)]
        self.epoch = 0
        self.ms: list[float] = []
        self.job_counts: list[int] = []
        self.commit_ms: list[float] = []

    def step(self, name: str, df, record: bool = True) -> float:
        # jobs are counted in traced runs only: the job group costs
        # round trips to the JVM, which the CPU clock would see
        traced = self.ctx.tracer.enabled
        for s in self.sinks:
            s.take_ms()
        with self.jobs.group() if traced else nullcontext() as g:
            t0 = time.time()
            with self.ctx.tracer.span(name, op=self.epoch):
                self.pipe.process_epoch(df, self.epoch)
            ms = (time.time() - t0) * 1000.0
        self.epoch += 1
        if record:
            self.ms.append(ms)
            self.commit_ms.append(sum(s.take_ms() for s in self.sinks))
            if traced:
                self.job_counts.append(self.jobs.jobs(g))
        return ms

    def layers(self, prefix: str, tail: int | None = None) -> dict:
        """Per-layer figures; ``tail`` adds that percentile of the updates."""
        out = {
            f"{prefix}.update_p50_ms": percentile(self.ms, 50),
            f"{prefix}.commit_ms_p50": median(self.commit_ms),
            f"{prefix}.self_ms_p50": median([a - b for a, b in zip(self.ms, self.commit_ms)]),
        }
        if self.job_counts:
            out[f"{prefix}.jobs_per_update_p50"] = median(self.job_counts)
        if tail is not None:
            out[f"{prefix}.update_p{tail}_ms"] = percentile(self.ms, tail)
        if hasattr(self.pipe, "full_reencodes"):
            out[f"{prefix}.reencode_frac"] = self.pipe.full_reencodes / max(1, self.pipe.epochs)
        return out


def _mean(values) -> float:
    return sum(values) / len(values)


def _close(g, w):
    from pyspark.sql import functions as F

    return (
        (g.isNull() & w.isNull())
        | (F.isnan(g) & F.isnan(w))
        | (F.abs(g - w) <= 1e-12 + 1e-9 * F.greatest(F.abs(g), F.abs(w)))
    )


def _mismatches(got, want, got_col: str, want_col: str, vector: bool = False) -> int:
    """Rows (by row_id) missing on one side or differing beyond 1e-9
    relative, counted in one Spark job."""
    from pyspark.sql import functions as F

    j = got.select("row_id", F.col(got_col).alias("g")).join(
        want.select("row_id", F.col(want_col).alias("w")), "row_id", "full_outer"
    )
    if vector:
        ok = (F.size("g") == F.size("w")) & F.forall(
            F.arrays_zip("g", "w"), lambda e: _close(e["g"], e["w"])
        )
    else:
        ok = _close(F.col("g"), F.col("w"))
    return j.filter(~F.coalesce(ok, F.lit(False))).count()


def run(ctx: Context, inputs: dict) -> Outcome:
    from diffdataflowmlpipelines_spark.operators.collection import consolidate
    from diffdataflowmlpipelines_spark.operators.encoders import StandardScaler
    from diffdataflowmlpipelines_spark.streaming.incremental_transform import (
        IncrementalMultiScalerPipeline,
        IncrementalScalerPipeline,
    )
    from diffdataflowmlpipelines_spark.streaming.vocabulary import DriverVocabularyPipeline

    spark, p, tr, inp = ctx.spark, ctx.params, ctx.tracer, inputs["encoders"]
    jobs = JobCounter(spark)
    w = ctx.workdir
    traced = tr.enabled
    scaler = _Lane(ctx, IncrementalScalerPipeline(spark, f"{w}/scaler", ["row_id"], "x", round_to=(-2, 0)), jobs)
    init_ms = scaler.step("scaler.init", spark.read.parquet(inp["scaler"]), record=False)

    s_schema = "row_id long, x double, diff long"
    m_schema = "row_id long, " + ", ".join(f"{c} double" for c in MULTI_COLS) + ", diff long"
    d_schema = "token string, diff long, event_time timestamp"
    inserted_s, inserted_m, tokens = [], [], []

    def frame(rows, schema):
        # from pandas, so Spark plans a local relation: a list of tuples
        # would become a Python RDD and every probe would start a worker
        cols = [c.split()[0] for c in schema.split(", ")]
        pdf = pd.DataFrame(rows, columns=cols)
        if "event_time" in pdf:
            pdf["event_time"] = pd.to_datetime(pdf["event_time"]).dt.tz_localize("UTC")
        return spark.createDataFrame(pdf, schema)

    def scaler_delta():
        k = len(inserted_s)
        row = (10**9 + k, float(inp["scaler_singles"][k]), 1)
        inserted_s.append(row)
        return frame([row], s_schema)

    def multi_delta():
        k = len(inserted_m)  # consecutive, so mirrored pairs stay adjacent
        row = (10**9 + k, *map(float, inp["multi_singles"][k]), 1)
        inserted_m.append(row)
        return frame([row], m_schema)

    def vocab_delta():
        k = len(tokens)
        tok = str(UNIQUES + k // 20) if k % 20 == 0 else str(k % UNIQUES)
        row = (tok, 1, T0 + timedelta(seconds=k + 1))
        tokens.append(row)
        return frame([row], d_schema)

    def retract_delta(rid):
        row = (int(rid), float(inp["scaler_x"][rid]), -1)
        retracted.append(row)
        return frame([row], s_schema)

    n, retracted = p["scaler_updates"], []
    # the JVM takes hundreds of updates to compile the update path: on a
    # 4-core host CPU per update fell from about 31 ms over the first 100
    # to 20 ms over the third and to about 17 ms after 400
    for _ in range(p["scaler_warmup"]):
        scaler.step("scaler.update", scaler_delta(), record=False)
    t_first = time.time()
    block_cpu_ms = []  # the scaler's CPU per update, per block
    for r in range(ROUNDS):
        deltas = [scaler_delta() for _ in range(r * n // ROUNDS, (r + 1) * n // ROUNDS)]
        c0 = ctx.cpu()
        for df in deltas:
            scaler.step("scaler.update", df)
        block_cpu_ms.append((ctx.cpu() - c0) * 1000.0 / len(deltas))
    st = streams.drain(ctx, inputs["streams"], with_join=traced)
    lanes = [scaler]

    # what only the per-layer figures need runs in traced runs only, after
    # the end-to-end phases, so that those see the same process either way
    if traced:
        multi = _Lane(
            ctx, IncrementalMultiScalerPipeline(spark, f"{w}/multi", ["row_id"], MULTI_COLS, round_to=(-2, -1)), jobs
        )
        vocab = _Lane(ctx, DriverVocabularyPipeline(spark, f"{w}/dict", n_shards=4), jobs)
        lanes += [multi, vocab]
        init = {
            "scaler": init_ms,
            "multi": multi.step("multi.init", spark.read.parquet(inp["multi"]), record=False),
            "dict": vocab.step("dict.init", spark.read.parquet(inp["dict"]), record=False),
        }
        for _ in range(p["warmup_updates"]):
            multi.step("multi.update", multi_delta(), record=False)
            vocab.step("dict.update", vocab_delta(), record=False)
        for _ in range(ROUNDS):
            for _ in range(p["other_updates"] // ROUNDS):
                multi.step("multi.update", multi_delta())
            for _ in range(p["other_updates"] // ROUNDS):
                vocab.step("dict.update", vocab_delta())
        # one untimed retraction pair, then the timed ones
        ids = list(inp["retract_ids"])
        for rid in ids[:2]:
            scaler.step("scaler.retract", retract_delta(rid), record=False)
        retract_ms = [scaler.step("scaler.retract", retract_delta(rid), record=False) for rid in ids[2:]]
        bulk_s = [
            scaler.step("scaler.bulk", spark.read.parquet(path), record=False) / 1000.0 for path in inp["bulk"]
        ]
        # after the bulk epochs, so that the scaler's reencode_frac counts them
        layers = {
            "encoder.init_s": sum(init.values()) / 1000.0,
            "scaler.init_s": init["scaler"] / 1000.0,
            "multi.init_s": init["multi"] / 1000.0,
            "dict.init_s": init["dict"] / 1000.0,
            **scaler.layers("scaler", 90),
            **multi.layers("multi"),
            **vocab.layers("dict"),
            # too few retractions for a percentile (each costs a
            # distributed re-read of the input), so their mean
            "scaler.retract_mean_ms": _mean(retract_ms),
            "scaler.bulk_update_s": median(bulk_s),
            "dict.vocab_size": float(sum(d.live_count() for d in vocab.pipe.shards.values())),
        }

    # correctness, outside the timed region: each pipeline's current
    # output equals a batch refit over the same consolidated inputs
    def check_scaler():
        s_in = spark.read.parquet(inp["scaler"], *(inp["bulk"] if traced else [])).unionByName(
            frame(inserted_s + retracted, s_schema)
        )
        # pinned: the fit and the comparison both read it
        net = consolidate(s_in, ["row_id", "x"]).filter("diff > 0").localCheckpoint(eager=True)
        want = StandardScaler(round_to=(-2, 0)).fit_transform(net, "x", "y")
        return _mismatches(scaler.pipe.current_output(), want, "scaled", "y") == 0

    def check_multi():
        # a fresh pipeline fitted on every input in one epoch: a batch fit
        # of all 21 columns in one job, which the repository's tests hold
        # equal to a from-scratch MultiColumnEncoder (that refit runs one
        # job per column and took twice as long as any other check)
        m_in = spark.read.parquet(inp["multi"]).unionByName(frame(inserted_m, m_schema))
        refit = IncrementalMultiScalerPipeline(spark, f"{w}/multi_refit", ["row_id"], MULTI_COLS, round_to=(-2, -1))
        refit.process_epoch(m_in, 0)
        return _mismatches(multi.pipe.current_output(), refit.current_output(), "features", "features", vector=True) == 0

    def check_dict():
        refit = DriverVocabularyPipeline(spark, f"{w}/dict_refit", n_shards=4)
        d_in = spark.read.parquet(inp["dict"]).unionByName(frame(tokens, d_schema))
        refit.process_epoch(d_in, 0)
        cols = ["shard", "token", "idx", "count"]
        return sorted(map(tuple, vocab.pipe.current_vocabulary().select(*cols).collect())) == sorted(
            map(tuple, refit.current_vocabulary().select(*cols).collect())
        )

    checks = {"check.scaler": check_scaler, **st.checks}
    if traced:
        checks.update({"check.multi": check_multi, "check.dict": check_dict})
    ok = dict(zip(checks, run_checks(tr, checks)))
    if not all(ok.values()):
        sys.stderr.write(f"incremental: mismatch with the batch refit or recompute: {ok}\n")

    if traced:
        sinks = [s for ln in lanes for s in ln.sinks] + list(st.sinks)
        layers.update(st.layers)
        layers.update(
            {
                "sink.write_batch_local_ms_p50": median([ms for s in sinks for ms in s.local_ms]),
                # the encoders' distributed writes: the base fits,
                # retractions and bulk epochs, too few for a percentile
                "sink.write_batch_mean_ms": _mean([ms for ln in lanes for s in ln.sinks for ms in s.write_ms]),
                "sink.epochs_committed": float(sum(s.epochs_committed for s in sinks)),
                "sink.replays_dropped": float(sum(s.replays_dropped for s in sinks)),
                "sink.rows_committed": float(sum(s.rows_committed() for s in sinks)),
            }
        )
    else:
        layers = {}
    e2e = {
        "op_cpu_ms": interquartile_mean(block_cpu_ms),
        "items_per_cpu_s": st.items_per_cpu_s,
    }
    attempted = sum(len(ln.ms) for ln in lanes) + st.ops + len(checks)
    if traced:
        attempted += len(retract_ms) + len(bulk_s) + 3
    failed = sum(not v for v in ok.values())
    return Outcome(e2e, layers, attempted, failed, failed == 0, t_first)
