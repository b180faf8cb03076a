"""The streaming half of the ``incremental`` workload. Two closed-loop
drains of pre-written epoch files, one after the other (the second in
traced runs only), each through a file-stream source into an
``ExactlyOnceParquetSink``:

- ``tumbling_token_frequency`` (60 s windows, update mode) over
  ``agg_epochs`` files of ``agg_rows`` token sequences each: scan,
  explode, the windows state store and the per-trigger fixed cost
  (offset and commit logs, planning, state commit);
- ``label_join`` of ``join_epochs`` token files with as many label
  files, ``join_rows`` sequences each, after one more pair for its
  warm-up: the join's four state stores per partition, whose commit
  dominates its micro-batches.

Both read one file per trigger. The aggregation's first ``warm_epochs``
triggers and the join's first trigger are untimed: CPU per micro-batch
fell by more than half over the aggregation's first several while the
JVM compiled the streaming path. The aggregation's throughput is the median
over its timed micro-batches of the sequences each read per CPU second
(this process and the JVM) from the previous commit's end to its own.
The per-layer figures come from each trigger's ``StreamingQueryProgress``
and from wrapped sink calls.

Inputs are ``sources.fixtures.gen_tokens_pdf`` (late rows and 0.5%
retractions) and ``gen_labels_pdf``, written with
``streaming.sources.write_epoch_files`` in event-time order, so no row
falls behind the watermark and the streaming results must equal the
batch recompute exactly. The checks compare the aggregation sink's
``read_current`` with ``tumbling_token_frequency(..., streaming=False)``
and the join sink's rows, token arrays included, with
``label_join(..., streaming=False)``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from perfbench.harness import Context, TimedSink, median

WINDOW, WATERMARK = "60 seconds", "30 seconds"
ROWS_PER_SECOND = 200.0  # event-time density of the generated stream


def prepare(ctx: Context) -> dict:
    from diffdataflowmlpipelines_spark.sources.fixtures import gen_labels_pdf, gen_tokens_pdf
    from diffdataflowmlpipelines_spark.streaming.sources import write_epoch_files

    p, d = ctx.params, os.path.join(ctx.workdir, "inputs")
    agg_files = p["warm_epochs"] + p["agg_epochs"]
    join_files = 1 + p["join_epochs"]
    with ctx.tracer.span("sources.write_epochs"):
        agg = gen_tokens_pdf(agg_files * p["agg_rows"], seed=ctx.seed, rows_per_second=ROWS_PER_SECOND)
        tok = gen_tokens_pdf(join_files * p["join_rows"], seed=ctx.seed + 1, rows_per_second=ROWS_PER_SECOND)
        lab = gen_labels_pdf(tok, seed=ctx.seed + 2)
        write_epoch_files(agg, f"{d}/agg_tokens", agg_files)
        write_epoch_files(tok, f"{d}/join_tokens", join_files)
        write_epoch_files(lab, f"{d}/join_labels", join_files)
    return {"dir": d}


class _Drain:
    """One streaming query drained with ``availableNow`` into a timed sink.
    Records, per micro-batch, when its sink call started and ended and the
    CPU clock at its end."""

    def __init__(self, ctx: Context, name: str, df, keys: list[str], mode: str):
        from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink

        self.ctx, self.name = ctx, name
        self.sink = TimedSink(ExactlyOnceParquetSink(f"{ctx.workdir}/{name}_out", keys, lineage="off"), ctx.tracer)
        self.calls: dict[int, tuple[float, float, float]] = {}
        write = self.sink.sink.write_batch

        def body(batch, epoch_id):
            t = time.time()
            write(batch, epoch_id)
            self.calls[epoch_id] = (t, time.time(), ctx.cpu())

        self.writer = (
            df.writeStream.foreachBatch(body)
            .outputMode(mode)
            .option("checkpointLocation", f"{ctx.workdir}/{name}_ck")
            .trigger(availableNow=True)
        )

    def run(self, n_files: int) -> list[dict]:
        """Drain ``n_files`` input files; returns the progress of the
        micro-batches that read input, in order, with the end of each
        one's sink call under ``"commit_end"`` and the CPU clock's reading
        there under ``"commit_cpu"``. Batches without input
        (Spark runs one to advance the watermark) are left out."""
        with self.ctx.tracer.span(f"{self.name}.drain") as drain:
            q = self.writer.start()
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"{self.name}: {q.exception()}")
        progress = [dict(pr) for pr in q.recentProgress if pr["numInputRows"] > 0]
        if len(progress) != n_files:
            raise RuntimeError(f"{self.name}: {len(progress)} micro-batches read input, expected {n_files}")
        for pr in progress:
            start, end, cpu = self.calls[pr["batchId"]]
            pr["write_ms"] = (end - start) * 1000.0
            pr["commit_end"], pr["commit_cpu"] = end, cpu
        self._trace(progress, drain)
        return progress

    def _trace(self, progress: list[dict], drain) -> None:
        """Each trigger's phases as spans, laid out around the end of its
        sink call (Spark reports durations, not start times)."""
        tr = self.ctx.tracer
        if not tr.enabled:
            return
        phases = [
            ("sources.latest_offset", "latestOffset"),
            ("trigger.wal_commit", "walCommit"),
            ("sources.get_batch", "getBatch"),
            ("trigger.query_planning", "queryPlanning"),
            ("trigger.add_batch", "addBatch"),
            ("trigger.commit_offsets", "commitOffsets"),
        ]
        for pr in progress:
            d = pr["durationMs"]
            end = pr["commit_end"] + d.get("commitOffsets", 0) / 1000.0
            start = end - d["triggerExecution"] / 1000.0
            parent = tr.add(f"{self.name}.trigger", start, end, parent=drain, op=pr["batchId"])
            t = start
            for span, key in phases:
                ms = d.get(key, 0) / 1000.0
                tr.add(span, t, t + ms, parent=parent, op=pr["batchId"])
                t += ms


def _state_layers(prefix: str, progress: list[dict]) -> dict:
    ops = [pr["stateOperators"][0] for pr in progress]
    return {
        f"{prefix}.state_commit_ms_p50": median([o["commitTimeMs"] for o in ops]),
        f"{prefix}.state_update_ms_p50": median([o["allUpdatesTimeMs"] for o in ops]),
        f"{prefix}.state_removal_ms_p50": median([o["allRemovalsTimeMs"] for o in ops]),
        f"{prefix}.state_rows_total": float(ops[-1]["numRowsTotal"]),
        f"{prefix}.state_memory_bytes": float(ops[-1]["memoryUsedBytes"]),
        f"{prefix}.state_store_instances": float(ops[-1]["numStateStoreInstances"]),
    }


def _intervals_ms(progress: list[dict]) -> list[float]:
    """Milliseconds from each batch's commit end to the next one's."""
    return [(b["commit_end"] - a["commit_end"]) * 1000.0 for a, b in zip(progress, progress[1:])]


def _same_rows(got, want) -> bool:
    """Equal as multisets of whole rows, array columns compared by value."""
    got = got.select(*want.columns)
    return got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


@dataclass
class Drains:
    """What the drains hand back: the aggregation's sequences per CPU
    second, the per-layer figures, the sinks, the checks still to run
    (name -> callable returning a bool) and the number of micro-batches
    run."""

    items_per_cpu_s: float
    layers: dict
    sinks: list
    checks: dict
    ops: int


def drain(ctx: Context, inp: dict, with_join: bool) -> Drains:
    """Drain the windowed count and, ``with_join``, then the join."""
    from diffdataflowmlpipelines_spark.sources.fixtures import LABELS_SCHEMA, TOKENS_STREAM_SCHEMA
    from diffdataflowmlpipelines_spark.streaming.join import label_join
    from diffdataflowmlpipelines_spark.streaming.windows import tumbling_token_frequency

    spark, p, tr, d = ctx.spark, ctx.params, ctx.tracer, inp["dir"]
    warm = p["warm_epochs"]

    def stream(sub, schema):
        return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{d}/{sub}")

    # tumbling_token_frequency sizes its state partitions by setting the
    # session's shuffle partitions, which a query reads when it starts;
    # put the default back after the aggregation, as its docstring asks,
    # so that the join and all later work run with the session default
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    t0 = time.time()
    with tr.span("windows.plan_build"):
        agg_df = tumbling_token_frequency(stream("agg_tokens", TOKENS_STREAM_SCHEMA), window=WINDOW, watermark=WATERMARK)
    plan_ms = (time.time() - t0) * 1000.0
    agg = _Drain(ctx, "agg", agg_df, ["window_start", "token"], "update")
    agg_pr = agg.run(warm + p["agg_epochs"])
    spark.conf.set("spark.sql.shuffle.partitions", partitions)
    agg_s = agg_pr[-1]["commit_end"] - agg_pr[warm - 1]["commit_end"]
    # each timed micro-batch's sequences over the CPU seconds from the
    # previous commit to its own; the median keeps an occasional slow
    # trigger (a state snapshot upload) from setting the figure
    rates = [b["numInputRows"] / (b["commit_cpu"] - a["commit_cpu"]) for a, b in zip(agg_pr[warm - 1 :], agg_pr[warm:])]

    # correctness, run by the caller outside the timed region: each sink
    # against the batch recompute over every input file
    def check_agg():
        agg_all = spark.read.schema(TOKENS_STREAM_SCHEMA).parquet(f"{d}/agg_tokens")
        want = tumbling_token_frequency(agg_all, window=WINDOW, watermark=WATERMARK, streaming=False)
        return _same_rows(agg.sink.sink.read_current(spark), want)

    timed_a = agg_pr[warm:]

    def p50(key):
        return median([pr["durationMs"][key] for pr in timed_a])

    out = Drains(
        median(rates),
        {
            "windows.plan_build_ms": plan_ms,
            **_state_layers("windows", timed_a),
            "windows.state_rows_updated": float(sum(pr["stateOperators"][0]["numRowsUpdated"] for pr in timed_a)),
            "windows.drain_s": agg_s,
            # the aggregation's per-trigger phases
            "trigger.execution_ms_p50": p50("triggerExecution"),
            "trigger.add_batch_ms_p50": p50("addBatch"),
            "trigger.query_planning_ms_p50": p50("queryPlanning"),
            "trigger.wal_commit_ms_p50": p50("walCommit"),
            "trigger.commit_offsets_ms_p50": p50("commitOffsets"),
            "trigger.count": float(len(agg_pr)),
            "sources.latest_offset_ms_p50": p50("latestOffset"),
            "sources.get_batch_ms_p50": p50("getBatch"),
            "sink.write_batch_ms_p50": median([pr["write_ms"] for pr in timed_a]),
        },
        [agg.sink],
        {"check.agg": check_agg},
        len(agg_pr),
    )
    if not with_join:
        return out

    with tr.span("join.plan_build"):
        join_df = label_join(
            stream("join_tokens", TOKENS_STREAM_SCHEMA), stream("join_labels", LABELS_SCHEMA), watermark=WATERMARK
        )
    join = _Drain(ctx, "join", join_df, ["doc_id"], "append")
    join_pr = join.run(1 + p["join_epochs"])

    def check_join():
        jt = spark.read.schema(TOKENS_STREAM_SCHEMA).parquet(f"{d}/join_tokens")
        jl = spark.read.schema(LABELS_SCHEMA).parquet(f"{d}/join_labels")
        want = label_join(jt, jl, watermark=WATERMARK, streaming=False)
        return _same_rows(join.sink.sink.read_all(spark), want)

    out.layers.update(
        {
            **_state_layers("join", join_pr[1:]),
            "join.batch_ms_p50": median(_intervals_ms(join_pr)),
            "join.output_rows": float(join.sink.rows_committed()),
        }
    )
    out.layers["trigger.count"] += len(join_pr)
    out.sinks.append(join.sink)
    out.checks["check.join"] = check_join
    out.ops += len(join_pr)
    return out
