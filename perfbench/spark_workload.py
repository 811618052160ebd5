"""The Spark workload: a closed loop over registered queries.

One client, one op in flight. An op is one registered query: its
builder call (``QUERIES[name](spark, sf_dir)``, which may run eager
jobs) followed by one action on the returned DataFrame. The first pass
runs every op once, collects each result and compares it with the
query's DuckDB oracle. Untimed warm-up rounds follow until per-round
CPU levels off, then a fixed odd number of steady rounds. Every round
runs each op once, in an order shuffled from the seed, with the noop
sink as the action.
"""

from __future__ import annotations

import os
import random
import sys
import time

import common
import mr_oracle
from stats import median
from tracing import Tracer

#: Registered queries of two kinds, timed together so one JVM start
#: serves both: a JVM-only join and aggregate (no Python workers, no
#: eager build jobs), and ops heavy in build work and writes: eager
#: pins and a parquet index (dedup_incremental), an Arrow
#: ``mapInPandas`` codec, streaming micro-batches, and an mrlite job
#: through the manager on Spark (mr_engine_wc). Their warm latencies
#: spread from ~0.8 to ~2 s without a gap, and their number is odd, so
#: the median op sample is one op's, never the mean of two ops'.
OPS = [
    "q05_local_supplier_volume",
    "dedup_incremental",
    "mm_gzip_inflate",
    "stream_hourly_finalized",
    "mr_engine_wc",
]

SCALE_FACTOR = 0.01
#: A warm round's wall time on 4 cores, from which ``--seconds`` sets the
#: number of steady rounds.
NOMINAL_ROUND_S = 4.6
#: The JVM keeps warming for many rounds after the first pass: on 4
#: cores its CPU per round fell 16.8, 12.5, 11.6, 9.3, 9.3, 8.5, 6.4,
#: 6.9, 5.9 s and held at 5.5-6.2 s from the ninth round on, round wall
#: time falling from 6.6 to ~4.4 s. A slow host spell slows a round the
#: more the earlier it comes on that curve: up to half again for the
#: first pass, a sixth for a round after five warm-up rounds. Warm-up
#: runs at least MIN_WARM_ROUNDS untimed rounds, then until two rounds'
#: CPU agree, for at most MAX_WARM_ROUNDS, so that a run fits its time.
MIN_WARM_ROUNDS = 3
MAX_WARM_ROUNDS = 4
#: The driver's heap. At the engine's 8g default the JVM grows its heap
#: lazily, by as much as GC timing asks, and peak PSS read 2.8-3.9 GB
#: over five seeds; sf0.01 needs far less than either.
DRIVER_HEAP = "1g"
MR_ENGINE_FILES = 2  # corpus files in each mr_engine_wc job
MR_ENGINE_CORPUS_BYTES = 300_000


class StreamProgress:
    """Collects ``StreamingQueryListener`` progress records."""

    def __init__(self):
        self.records: list[tuple[float, dict]] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        records = self.records

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                records.append((common.iso_to_epoch(p.timestamp), dict(p.durationMs)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def per_window(self, windows) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for t, d in self.records:
            key = windows.find(t * 1e3)
            if key is not None:
                out.setdefault(key, []).append(d)
        return out


class MREngineOp:
    """``mr_engine_wc``: a word-count job sent as ``new_manager_job`` to
    an ``MRManagerServer`` whose data plane is ``MREngine(spark)`` (no
    workers registered)."""

    def __init__(self, spark, work: str, seed: int, exec_dir: str):
        from eeecs485_p4_mapreduce_spark.mrlite import MREngine, MRManagerServer

        import inputs

        corpus = inputs.make_corpus(
            os.path.join(work, "mr_engine_corpus"), seed, MR_ENGINE_FILES,
            MR_ENGINE_CORPUS_BYTES,
        )
        self.input_dir = os.path.dirname(corpus[0])
        texts = [open(p, encoding="utf-8").read() for p in corpus]
        self.expected = mr_oracle.expected_outputs("wc", texts, 2)
        self.exec_dir = exec_dir
        self.out_root = os.path.join(work, "mr_engine_out")
        self.server = MRManagerServer(MREngine(spark), port=0).start()
        self.n = 0

    def run(self) -> str:
        """Submit one job, wait for it; returns its output directory."""
        out = os.path.join(self.out_root, f"job-{self.n}")
        self.n += 1
        rec = common.submit_job(self.server, self.input_dir, out, self.exec_dir, "wc", 2, 2)
        if rec.error:
            raise RuntimeError(rec.error)
        return out

    def check(self, out: str) -> bool:
        return common.check_parts(out, self.expected)

    def stop(self) -> None:
        self.server.stop()
        self.server.join(timeout=5)


def _oracle_hashes(names: list[str], sf_dir: str) -> dict[str, tuple]:
    """(rows, sorted columns, order-insensitive hash) of each op's oracle."""
    import duckdb
    from oracle_check import canon_lines, lines_hash

    from eeecs485_p4_mapreduce_spark.catalog import TABLES, table_path
    from eeecs485_p4_mapreduce_spark.registry import ORACLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
            )
        out = {}
        for name in names:
            pdf = con.sql(ORACLES[name]).df()
            out[name] = (len(pdf), sorted(pdf.columns), lines_hash(canon_lines(pdf)))
        return out
    finally:
        con.close()


def _matches(pdf, want: tuple) -> bool:
    from oracle_check import canon_lines, lines_hash

    return (len(pdf), sorted(pdf.columns)) == want[:2] and lines_hash(canon_lines(pdf)) == want[2]


def _session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": common.JAVA_OPTS.format(tmp=common.tmp_dir(work)),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_HEAP,
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    return conf


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    tracer = Tracer(trace)
    layers: dict[str, float] = {}

    # -- set-up: imports, registry, session, one trivial job ------------
    t0 = time.time()
    from eeecs485_p4_mapreduce_spark import get_spark, registry

    registry.load_all()
    t_reg = time.time()
    master = f"local[{os.cpu_count() or 1}]"
    spark = get_spark(f"perfbench-{workload}", master=master, extra_conf=_session_conf(work, trace))
    spark.range(1000).selectExpr("sum(id)").collect()
    t_ready = time.time()
    setup_s = t_ready - common.process_start_epoch()
    layers["registry.load_s"] = t_reg - t0
    layers["session.start_s"] = t_ready - t_reg
    tracer.add("registry", t0, t_reg)
    tracer.add("session", t_reg, t_ready)

    sampler = common.spark_sampler()
    progress = StreamProgress()
    if trace:
        listener = progress.listener()
        spark.streams.addListener(listener)

    # -- inputs (not part of set-up) ------------------------------------
    import inputs

    sf_dir = os.path.join(work, f"sf{SCALE_FACTOR}")
    inputs.make_tables(sf_dir, seed, SCALE_FACTOR)
    exec_dir = common.install_executables(work)
    mr_op = MREngineOp(spark, work, seed, exec_dir)
    want = _oracle_hashes([n for n in OPS if n != "mr_engine_wc"], sf_dir)

    from eeecs485_p4_mapreduce_spark.registry import QUERIES

    rng = random.Random(seed)
    counts = common.Counts()
    windows: list[tuple[str, float, float]] = []
    per_op: dict[str, list[float]] = {}  # first pass, then steady rounds
    op_cpu: dict[str, dict[str, float]] = {}  # traced: CPU by role of each op

    def one_op(name: str, tag: str, verify: bool, parent) -> float | None:
        """Run one op; returns its latency, or None if it failed."""
        counts.attempted += 1
        cpu0 = sampler.snapshot() if tracer.enabled else None
        with tracer.span(name, parent, tag=tag) as op_span:
            try:
                a = time.time()
                with tracer.span("operators.build", op_span):
                    df = None if name == "mr_engine_wc" else QUERIES[name](spark, sf_dir)
                b = time.time()
                with tracer.span("spark.action", op_span):
                    if name == "mr_engine_wc":
                        result = mr_op.run()
                    elif verify:
                        result = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                c = time.time()
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, the run goes on
                print(f"perfbench: {name} failed: {type(exc).__name__}: {exc}", file=sys.stderr)
                counts.failed += 1
                return None
        windows.append((f"{tag}/{name}/build", a * 1e3, b * 1e3))
        windows.append((f"{tag}/{name}/action", b * 1e3, c * 1e3))
        if cpu0 is not None:
            cpu1 = sampler.snapshot()
            op_cpu[f"{tag}/{name}"] = {r: cpu1.get(r, 0.0) - cpu0.get(r, 0.0) for r in cpu1}
        if name == "mr_engine_wc":
            ok = mr_op.check(result)
        else:
            ok = not verify or _matches(result, want[name])
        if not ok:
            print(f"perfbench: {name} output does not match its oracle", file=sys.stderr)
            counts.failed += 1
            return None
        per_op.setdefault(name, []).append(c - a)
        return c - a

    def one_round(tag: str) -> common.Round:
        order = OPS[:]
        rng.shuffle(order)
        r = common.Round.begin(sampler)
        with tracer.span("round", tag=tag) as rspan:
            for name in order:
                lat = one_op(name, tag, False, rspan)
                if lat is not None:
                    r.latencies.append(lat)
        r.end(sampler)
        return r

    def rounds(prefix: str, n: int) -> list[common.Round]:
        return [one_round(f"{prefix}{i}") for i in range(n)]

    t_inputs = time.time()
    # -- first pass, with output checks --------------------------------
    first = OPS[:]
    rng.shuffle(first)
    t_first = time.time()
    with tracer.span("first_pass") as fspan:
        for name in first:
            one_op(name, "first", True, fspan)
    layers["bench.first_pass_s"] = time.time() - t_first

    # -- warm-up rounds, then steady rounds -----------------------------
    warm = common.warm_up(lambda i: one_round(f"w{i}"), MAX_WARM_ROUNDS, MIN_WARM_ROUNDS)
    sampler.track_pss(True)
    steady = rounds("r", 1 if trace else common.steady_round_count(seconds, NOMINAL_ROUND_S))
    sampler.track_pss(False)
    result = common.e2e_metrics(setup_s, steady, sampler.peak_pss_mb, counts)
    common.report_rounds(warm, steady)
    print(f"perfbench: phases, s: set-up {setup_s:.1f}, inputs {t_inputs - t_ready:.1f}, "
          f"first pass {layers['bench.first_pass_s']:.1f}, warm-up {sum(r.wall for r in warm):.1f}, "
          f"steady {sum(r.wall for r in steady):.1f}", file=sys.stderr)
    print("perfbench: op latencies (first pass; steady median), s: " + ", ".join(
        f"{n} {v[0]:.2f}; {median(v[-len(steady):]):.2f}" for n, v in per_op.items() if len(v) > 1
    ), file=sys.stderr)

    if trace:
        # Tracing off for as many rounds again: Spark stops writing the
        # event log once its listener leaves the bus, and everything up to
        # the last job end is already flushed.
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().removeListener(jsc.eventLogger().get())
        spark.streams.removeListener(listener)
        tracer.enabled = False
        plain = rounds("u", len(steady))
        log_path = common.find_event_log(os.path.join(work, "eventlog"), spark.sparkContext.applicationId)
        per_layer, by_op = _spark_layers(log_path, windows, progress, steady, op_cpu)
        layers.update(per_layer)
        print("perfbench: per op per round (build jobs, action jobs, pins, Python-worker CPU s): "
              + ", ".join(f"{k} {v['build_jobs']:g}/{v['jobs']:g}/{v['pins']:g}/{v['pyworker_cpu_s']:.2f}"
                          for k, v in by_op.items()), file=sys.stderr)
        layers["bench.trace_overhead"] = (
            median([r.wall for r in steady]) / median([r.wall for r in plain])
        )
        result = common.layer_metrics(layers)
        tracer.write(common.trace_path(workload, seed))

    mr_op.stop()
    spark.stop()
    _stop_jvm()
    sampler.stop()
    return result | {"counts": counts}


def _stop_jvm() -> None:
    """End the JVM that pyspark started and wait for it: it exits once
    its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _spark_layers(log_path, windows, progress, rounds, op_cpu):
    """Per-round means of the per-layer metrics over the steady rounds,
    and the same for a few of them op by op."""
    from eventlog import SparkLayers, Windows, attribute, read_log

    steady = [w for w in windows if w[0].startswith("r")]  # not "first", not "u"
    wins = Windows(steady)
    by_window = attribute(read_log(log_path), wins)
    build, action, both = SparkLayers(), SparkLayers(), SparkLayers()
    by_op: dict[str, dict[str, float]] = {}
    n = len(rounds)
    for key, row in by_window.items():
        (build if key.endswith("/build") else action).add(row)
        both.add(row)
        op = by_op.setdefault(key.split("/")[1], dict.fromkeys(
            ("build_jobs", "jobs", "pins", "pyworker_cpu_s"), 0.0))
        op["build_jobs" if key.endswith("/build") else "jobs"] += row.jobs / n
        op["pins"] += row.pins / n
    for key, cpu in op_cpu.items():
        tag, name = key.split("/")
        if tag.startswith("r") and name in by_op:
            by_op[name]["pyworker_cpu_s"] += cpu.get("pyworker", 0.0) / n
    build_s = sum(w[2] - w[1] for w in steady if w[0].endswith("/build")) / 1e3
    out = {
        "operators.build_s": build_s / n,
        "operators.build_jobs": build.jobs / n,
        "catalog.pins": both.pins / n,
        "catalog.pin_mb": both.pin_mb / n,
        "spark.jobs": action.jobs / n,
        "spark.stages": action.stages / n,
        "spark.tasks": action.tasks / n,
        "spark.task_overhead_s": action.task_overhead_s / n,
        "spark.failed_jobs": both.failed_jobs / n,
        "spark.failed_tasks": both.failed_tasks / n,
        "exec.run_s": both.run_s / n,
        "exec.cpu_s": both.cpu_s / n,
        "exec.gc_s": both.gc_s / n,
        "exec.input_mb": both.input_mb / n,
        "exec.shuffle_read_mb": both.shuffle_read_mb / n,
        "exec.shuffle_write_mb": both.shuffle_write_mb / n,
        "exec.spill_mb": both.spill_mb / n,
        "exec.output_mb": both.output_mb / n,
    }
    for role, metric in (("driver", "driver.cpu_s"), ("jvm", "jvm.cpu_s"), ("pyworker", "pyworker.cpu_s")):
        out[metric] = sum(r.cpu_by_role.get(role, 0.0) for r in rounds) / n
    batches = [d for ds in progress.per_window(wins).values() for d in ds]
    out["stream.batches"] = len(batches) / n
    for metric, key in (
        ("stream.trigger_s", "triggerExecution"),
        ("stream.add_batch_s", "addBatch"),
        ("stream.query_planning_s", "queryPlanning"),
        ("stream.wal_commit_s", "walCommit"),
        ("stream.commit_offsets_s", "commitOffsets"),
        ("stream.get_batch_s", "getBatch"),
    ):
        out[metric] = sum(d.get(key, 0) for d in batches) / 1e3 / n
    return out, by_op
