"""``registry_batch``: build, then execute through the ``noop`` sink,
the batch queries ``bench.py`` lists in ``BATCH_QUERIES``.

The first pass is the untimed warm-up: it builds and collects every
query, ``COLD_THREADS`` side by side. The timed passes that follow run
one query at a time and repeat until the run's seconds are spent. The
end-to-end figures are CPU time, of this process and the JVM together,
per query and per suite; the wall-clock times are per-layer figures. After
them the warm-up's results are compared with each query's DuckDB oracle.
A traced run then repeats the warm-up pass, now warm, and reports the
difference as ``batch.cold_extra_s``: the two passes run the same way.
"""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench.harness import Context, Outcome, interquartile_mean, median
from perfbench.tables import TABLES, write_tables


COLD_THREADS = 4


def prepare(ctx: Context) -> str:
    out = os.path.join(ctx.workdir, "tables")
    with ctx.tracer.span("sources.write_tables"):
        write_tables(out, ctx.seed, ctx.params["scale"])
    return out


def run(ctx: Context, tables: str) -> Outcome:
    import duckdb

    import __spark_entry__ as entry
    from bench import BATCH_QUERIES, run_noop
    from tools.check_oracle import canon

    spark, tr = ctx.spark, ctx.tracer
    queries, oracles = entry.queries(), entry.oracle_sql()

    # the warm-up only has to compile and cache what the timed passes
    # reuse and collect the results, so it may run queries side by side
    def collect_pass(label):
        def one(name):
            t = time.time()
            got = queries[name](spark, tables).toPandas()
            tr.add(f"batch.{name}.{label}", t, time.time())
            return got

        t0 = time.time()
        with ThreadPoolExecutor(COLD_THREADS) as pool:
            results = list(pool.map(one, BATCH_QUERIES))
        return results, time.time() - t0

    results, cold_s = collect_pass("cold")
    t_first = time.time()

    build: dict[str, list[float]] = {n: [] for n in BATCH_QUERIES}
    execs: dict[str, list[float]] = {n: [] for n in BATCH_QUERIES}
    cpu_ms: list[float] = []  # build + execute, per query
    suites: list[float] = []
    attempted = 0
    deadline = t_first + ctx.seconds
    while not suites or time.time() < deadline:
        suite = 0.0
        for name in BATCH_QUERIES:
            attempted += 1
            with tr.span("batch.query", op=attempted):
                c0, t0 = ctx.cpu(), time.time()
                with tr.span(f"batch.{name}.build", op=attempted):
                    df = queries[name](spark, tables)
                t1 = time.time()
                with tr.span(f"batch.{name}.exec", op=attempted):
                    run_noop(df)
                t2, c2 = time.time(), ctx.cpu()
            cpu_ms.append((c2 - c0) * 1000.0)
            build[name].append(t1 - t0)
            execs[name].append(t2 - t1)
            suite += t2 - t0
        suites.append(suite)

    # correctness, outside the timed region
    with tr.span("check"):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")

        def matches(name, got):
            want = con.cursor().execute(oracles[name]).df()
            return sorted(got.columns) == sorted(want.columns) and canon(got) == canon(want)

        # the oracles run side by side: two of them take seconds each
        with ThreadPoolExecutor(COLD_THREADS) as pool:
            ok = list(pool.map(matches, BATCH_QUERIES, results))
        con.close()
        bad = [name for name, good in zip(BATCH_QUERIES, ok) if not good]
    attempted += len(BATCH_QUERIES)

    layers = {
        "batch.suite_s": median(suites),
        "batch.build_s": median([sum(build[n][r] for n in BATCH_QUERIES) for r in range(len(suites))]),
        "batch.exec_s": median([sum(execs[n][r] for n in BATCH_QUERIES) for r in range(len(suites))]),
    }
    if tr.enabled:
        layers["batch.cold_extra_s"] = cold_s - collect_pass("warm")[1]
    for n in BATCH_QUERIES:
        layers[f"batch.{n}.build_s"] = median(build[n])
        layers[f"batch.{n}.exec_s"] = median(execs[n])
    e2e = {
        "op_cpu_ms": interquartile_mean(cpu_ms),
        "items_per_cpu_s": len(cpu_ms) / sum(cpu_ms) * 1000.0,
    }
    if bad:
        sys.stderr.write(f"registry_batch: oracle mismatch in {bad}\n")
    return Outcome(e2e, layers, attempted, len(bad), not bad, t_first)
