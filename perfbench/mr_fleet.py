"""The ``mr_fleet`` workload: the MapReduce manager and a worker fleet,
no JVM.

This process hosts ``MRManagerServer(None)`` on ephemeral ports; three
``python -m eeecs485_p4_mapreduce_spark.mrlite --worker`` processes
register with it and heartbeat every 2 s. One client sends
``new_manager_job`` messages with ``send_json``, one job in flight; a job
is done when its ``JobRecord.done`` is set. The jobs are word count and
grep in the fixed shapes of ``JOB_SHAPES``, over seeded subsets of a
seeded corpus. Every job's ``part-%05d`` files are compared byte for
byte with ``mr_oracle``.
"""

from __future__ import annotations

import os
import random
import subprocess
import sys
import time

import common
import mr_oracle
from tracing import Tracer

N_WORKERS = 3
N_FILES = 8
CORPUS_BYTES = 2_000_000
N_SETUPS = 5
#: A round's wall time on 4 cores, from which ``--seconds`` sets the
#: number of steady rounds.
NOMINAL_ROUND_S = 4.5
#: Untimed rounds before the steady ones: the checked first pass alone.
#: With no JIT, per-round CPU is level from the first round on.
MAX_WARM_ROUNDS = 1
#: (kind, files, mappers, reducers) of the jobs in one round: sizes
#: spread from one file to all eight, so job latencies spread without a
#: gap, and an odd number of jobs, so the median job sample is one
#: job's; word count routes every token to the reducers while grep scans
#: everything and sends a few lines to one reducer.
JOB_SHAPES = [
    ("wc", 1, 1, 1),
    ("wc", 3, 2, 2),
    ("wc", 5, 3, 3),
    ("wc", 8, 4, 4),
    ("grep", 2, 1, 1),
    ("grep", 5, 3, 2),
    ("grep", 8, 4, 1),
]


def job_specs(seed: int, n_files: int) -> list[dict]:
    """The round's jobs; the seed picks which corpus files each one reads."""
    rng = random.Random(seed)
    return [
        {"kind": kind, "files": sorted(rng.sample(range(n_files), k)),
         "num_mappers": m, "num_reducers": r}
        for kind, k, m, r in JOB_SHAPES
    ]


class Fleet:
    """A manager plus ``N_WORKERS`` worker processes."""

    def __init__(self, work: str, env: dict):
        from eeecs485_p4_mapreduce_spark.mrlite import MRManagerServer

        t0 = time.time()
        self.server = MRManagerServer(None, port=0, hb_port=0).start()
        self.procs = [
            subprocess.Popen(
                [sys.executable, "-m", "eeecs485_p4_mapreduce_spark.mrlite", "--worker",
                 "--port", "0", "--manager-port", str(self.server.port),
                 "--manager-hb-port", str(self.server.hb_port)],
                cwd=work, env=env, stdout=subprocess.DEVNULL,
            )
            for _ in range(N_WORKERS)
        ]
        deadline = time.monotonic() + 60
        while len(self.server.workers) < N_WORKERS:
            if time.monotonic() > deadline or any(p.poll() is not None for p in self.procs):
                self.stop()
                raise RuntimeError("workers did not register")
            time.sleep(0.002)
        self.setup_s = time.time() - t0

    def stop(self) -> None:
        self.server.stop()
        self.server.join(timeout=5)
        for p in self.procs:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()


def _read_stamps(stamp_dir: str) -> list[tuple[str, float, float]]:
    out = []
    for name in os.listdir(stamp_dir):
        if name == "on":
            continue
        path = os.path.join(stamp_dir, name)
        with open(path) as f:
            kind, start, end = f.read().split()
        out.append((kind, float(start), float(end)))
        os.unlink(path)
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    tracer = Tracer(trace)
    env = dict(os.environ)
    stamp_dir = os.path.join(work, "stamps")
    if trace:
        os.makedirs(stamp_dir)
        env["PERFBENCH_STAMPS"] = stamp_dir

    # -- inputs ---------------------------------------------------------
    import inputs

    corpus = inputs.make_corpus(os.path.join(work, "corpus"), seed, N_FILES, CORPUS_BYTES)
    texts = [open(p, encoding="utf-8").read() for p in corpus]
    exec_dir = common.install_executables(work)
    specs = job_specs(seed, N_FILES)
    for i, spec in enumerate(specs):
        in_dir = os.path.join(work, "inputs", f"job{i}")
        os.makedirs(in_dir)
        for f in spec["files"]:
            os.link(corpus[f], os.path.join(in_dir, os.path.basename(corpus[f])))
        spec["input_directory"] = in_dir
        spec["expected"] = mr_oracle.expected_outputs(
            spec["kind"], [texts[f] for f in spec["files"]], spec["num_reducers"]
        )

    # -- set-up, several times: manager up, all workers registered ------
    setups = []
    for i in range(N_SETUPS):
        fleet = Fleet(work, env)
        setups.append(fleet.setup_s)
        if i < N_SETUPS - 1:
            fleet.stop()
    setup_s = sorted(setups)[len(setups) // 2]

    server = fleet.server
    sampler = common.mr_sampler()
    counts = common.Counts()
    rng = random.Random(seed)
    n_sent = 0
    job_log: list[dict] = []  # traced: one entry per job

    def one_job(spec: dict, parent) -> tuple[float | None, str]:
        nonlocal n_sent
        out = os.path.join(work, "out", f"job-{n_sent}")
        cursor = len(server.task_events)
        counts.attempted += 1
        n_sent += 1
        with tracer.span(f"{spec['kind']}", parent, files=len(spec["files"]),
                         mappers=spec["num_mappers"], reducers=spec["num_reducers"]) as span:
            t0 = time.time()
            rec = common.submit_job(server, spec["input_directory"], out, exec_dir, spec["kind"],
                                    spec["num_mappers"], spec["num_reducers"])
            t1 = time.time()
        if trace:
            job_log.append({"t0": t0, "t1": t1, "span": span,
                            "events": list(server.task_events[cursor:])})
        if rec.error:
            print(f"perfbench: job {n_sent} failed: {rec.error}", file=sys.stderr)
            counts.failed += 1
            return None, out
        return t1 - t0, out

    def check(spec: dict, out: str) -> None:
        if not common.check_parts(out, spec["expected"]):
            print(f"perfbench: {spec['kind']} job output does not match the oracle",
                  file=sys.stderr)
            counts.failed += 1

    def one_round(tag: str) -> common.Round:
        order = specs[:]
        rng.shuffle(order)
        done = []
        r = common.Round.begin(sampler)
        with tracer.span("round", tag=tag) as rspan:
            for spec in order:
                lat, out = one_job(spec, rspan)
                done.append((spec, out, lat))
                if lat is not None:
                    r.latencies.append(lat)
        r.end(sampler)
        for spec, out, lat in done:  # outside the round's clock
            if lat is not None:
                check(spec, out)
        return r

    def rounds(tag: str, n: int) -> list[common.Round]:
        return [one_round(tag) for _ in range(n)]

    try:
        # Untimed rounds, checked like the rest, until per-round CPU
        # levels off; the first of them is the first pass.
        warm = common.warm_up(lambda i: one_round("w"), MAX_WARM_ROUNDS)
        sampler.track_pss(True)
        if trace:
            open(os.path.join(stamp_dir, "on"), "w").close()
            job_log.clear()
            _read_stamps(stamp_dir)
        steady = rounds("r", common.steady_round_count(seconds, NOMINAL_ROUND_S))
        sampler.track_pss(False)
        common.report_rounds(warm, steady)
        if not trace:
            return common.e2e_metrics(setup_s, steady, sampler.peak_pss_mb, counts) | {"counts": counts}
        layers = _mr_layers(job_log, _read_stamps(stamp_dir), steady, tracer)
        os.unlink(os.path.join(stamp_dir, "on"))
        plain = rounds("u", len(steady))
        layers["bench.first_pass_s"] = warm[0].wall
        layers["bench.trace_overhead"] = (
            common.median([r.wall for r in steady]) / common.median([r.wall for r in plain])
        )
        tracer.write(common.trace_path(workload, seed))
        return common.layer_metrics(layers) | {"counts": counts}
    finally:
        fleet.stop()
        sampler.stop()


def _mr_layers(job_log, stamps, rounds, tracer) -> dict[str, float]:
    """Per-round means over the traced rounds."""
    n = len(rounds)
    out = {k: 0.0 for k in ("mr.map_wave_s", "mr.reduce_wave_s", "mr.gap_s", "mr.tasks",
                            "mr.task_errors", "mr.redundant_tasks")}
    for job in job_log:
        waves = {}
        for kind in ("map", "reduce"):
            ts = [(a, b) for k, a, b in stamps if k == kind and job["t0"] <= a and b <= job["t1"]]
            if ts:
                lo, hi = min(a for a, _ in ts), max(b for _, b in ts)
                waves[kind] = hi - lo
                tracer.add(f"mr.{kind}_wave", lo, hi, job["span"], tasks=len(ts))
        out["mr.map_wave_s"] += waves.get("map", 0.0)
        out["mr.reduce_wave_s"] += waves.get("reduce", 0.0)
        out["mr.gap_s"] += (job["t1"] - job["t0"]) - sum(waves.values())
        ok = [e for e in job["events"] if not e.get("error")]
        unique = {(e.get("wave"), e["task_id"]) for e in ok}
        out["mr.tasks"] += len(unique)
        out["mr.task_errors"] += len(job["events"]) - len(ok)
        out["mr.redundant_tasks"] += len(ok) - len(unique)
    out = {k: v / n for k, v in out.items()}
    for role, metric in (("worker", "mr.worker_cpu_s"), ("exec", "mr.exec_cpu_s"),
                         ("manager", "mr.manager_cpu_s")):
        out[metric] = sum(r.cpu_by_role.get(role, 0.0) for r in rounds) / n
    return out
