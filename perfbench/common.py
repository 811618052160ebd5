"""Shared plumbing: the run's working directory, process-tree sampling,
per-round bookkeeping and the metric sets the benchmark prints."""

from __future__ import annotations

import datetime
import os
import shutil
import stat
import sys
import time
from dataclasses import dataclass, field

from procfs import CLK_TCK, Sampler, TreeCPU, steal_s
from stats import median

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
#: Warm-up ends once two consecutive rounds' process-tree CPU agree
#: within this share of the earlier one.
WARM_TOLERANCE = 0.05

END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "op_p50_s": "s",
    "cpu_s": "s",
    "peak_pss_mb": "MB",
    "ok_ratio": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "bench.first_pass_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "catalog.pins": "count",
    "catalog.pin_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_overhead_s": "s",
    "spark.failed_jobs": "count",
    "spark.failed_tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.output_mb": "MB",
    "driver.cpu_s": "s",
    "jvm.cpu_s": "s",
    "pyworker.cpu_s": "s",
    "stream.batches": "count",
    "stream.trigger_s": "s",
    "stream.add_batch_s": "s",
    "stream.query_planning_s": "s",
    "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s",
    "stream.get_batch_s": "s",
    "mr.map_wave_s": "s",
    "mr.reduce_wave_s": "s",
    "mr.gap_s": "s",
    "mr.worker_cpu_s": "s",
    "mr.exec_cpu_s": "s",
    "mr.manager_cpu_s": "s",
    "mr.tasks": "count",
    "mr.task_errors": "count",
    "mr.redundant_tasks": "count",
    "bench.trace_overhead": "ratio",
}


# -- working directory and environment ---------------------------------


#: Options of every JVM a run starts: temporary files go to the run's
#: directory, and no hsperfdata file is written to /tmp.
JAVA_OPTS = "-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def prepare_work(workload: str) -> str:
    """Create this run's working directory and point every scratch path
    of this process and its children at it."""
    work = os.path.join(HERE, "work", f"{workload}-{os.getpid()}")
    os.makedirs(tmp_dir(work))
    os.environ["TMPDIR"] = tmp_dir(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = JAVA_OPTS.format(tmp=tmp_dir(work))  # spark-class
    # No engine setting comes from the caller's environment: a run sees
    # the shipped defaults plus only what the workload sets itself.
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    # Spark's Python workers import the engine by module path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp_dir(work)
    os.chdir(work)
    return work


def tmp_dir(work: str) -> str:
    return os.path.join(work, "tmp-scratch")


def remove_work(work: str) -> None:
    os.chdir(HERE)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run's directory is still there


def install_executables(work: str) -> str:
    """Copy the map/reduce scripts into ``work/exec``, executable."""
    dst = os.path.join(work, "exec")
    shutil.copytree(os.path.join(HERE, "exec"), dst)
    for name in os.listdir(dst):
        path = os.path.join(dst, name)
        os.chmod(path, os.stat(path).st_mode | stat.S_IXUSR)
    return dst


def trace_path(workload: str, seed: int) -> str:
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    return os.path.join(out, f"trace-{workload}-seed{seed}.json")


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if app_id in name:
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


# -- clocks --------------------------------------------------------------


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc (10 ms grain)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rpartition(")")[2].split()[19])
    age = time.clock_gettime(time.CLOCK_BOOTTIME) - ticks / CLK_TCK
    return time.time() - age


def iso_to_epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# -- mrlite helpers ------------------------------------------------------


def submit_job(server, in_dir: str, out: str, exec_dir: str, kind: str, m: int, r: int):
    """Send one ``new_manager_job`` to ``server`` and wait for it; returns
    its JobRecord."""
    from eeecs485_p4_mapreduce_spark.mrlite.worker import send_json

    idx = len(server.jobs)
    send_json("localhost", server.port, {
        "message_type": "new_manager_job",
        "input_directory": in_dir,
        "output_directory": out,
        "mapper_executable": os.path.join(exec_dir, f"{kind}_map.sh"),
        "reducer_executable": os.path.join(exec_dir, f"{kind}_reduce.sh"),
        "num_mappers": m,
        "num_reducers": r,
    })
    return wait_job(server, idx)


def check_parts(out: str, expected: dict[str, bytes]) -> bool:
    """Whether the job's ``part-*`` files are ``expected`` byte for byte;
    removes the output directory."""
    ok = read_parts(out) == expected
    shutil.rmtree(out, ignore_errors=True)
    return ok


def wait_job(server, idx: int, timeout: float = 120.0):
    """The ``idx``-th JobRecord of ``server`` once it is done."""
    deadline = time.monotonic() + timeout
    while len(server.jobs) <= idx:
        if time.monotonic() > deadline:
            raise TimeoutError("job never reached the manager")
        time.sleep(0.002)
    rec = server.jobs[idx]
    if not rec.done.wait(max(0.0, deadline - time.monotonic())):
        raise TimeoutError("job did not finish")
    return rec


def read_parts(out_dir: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("part-"):
            with open(os.path.join(out_dir, name), "rb") as f:
                out[name] = f.read()
    return out


# -- sampling and rounds ---------------------------------------------------


def _spark_role(st, parent_role):
    if parent_role is None:
        return "driver"
    if st.comm == "java":
        return "jvm"
    return "pyworker" if parent_role in ("jvm", "pyworker") else parent_role


def spark_sampler() -> Sampler:
    """Driver (this process), JVM and Python workers."""
    tree = TreeCPU(
        os.getpid(), _spark_role,
        {"driver": "jvm", "jvm": "pyworker", "pyworker": "pyworker"},
    )
    return Sampler(tree).start()


def _mr_role(st, parent_role):
    if parent_role is None:
        return "bench"
    return "worker" if parent_role == "bench" else "exec"


def mr_sampler() -> Sampler:
    """This process (which hosts the manager), the workers, and the
    executables the workers run."""
    tree = TreeCPU(
        os.getpid(), _mr_role, {"bench": "worker", "worker": "exec", "exec": "exec"}
    )
    return Sampler(tree).start()


@dataclass
class Counts:
    attempted: int = 0
    failed: int = 0


@dataclass
class Round:
    """One steady round: wall time, op latencies and CPU per role.

    The sampler thread's CPU is taken out of this process's share. In
    the mr benchmark this process hosts the manager, and its main thread
    is the client: what remains after both is the manager's CPU.
    """

    t0: float
    cpu0: dict
    sampler0: float
    main0: float
    steal0: float
    wall: float = 0.0
    steal: float = 0.0
    latencies: list[float] = field(default_factory=list)
    cpu_by_role: dict[str, float] = field(default_factory=dict)

    @classmethod
    def begin(cls, sampler: Sampler) -> "Round":
        cpu = sampler.snapshot()
        return cls(time.time(), cpu, sampler.sampler_cpu_s(), time.thread_time(), steal_s())

    def end(self, sampler: Sampler) -> None:
        self.wall = time.time() - self.t0
        self.steal = steal_s() - self.steal0
        cpu = sampler.snapshot()
        roles = {r: cpu.get(r, 0.0) - self.cpu0.get(r, 0.0) for r in set(cpu) | set(self.cpu0)}
        d_sampler = sampler.sampler_cpu_s() - self.sampler0
        if "driver" in roles:
            roles["driver"] -= d_sampler
        if "bench" in roles:
            roles["manager"] = roles.pop("bench") - d_sampler - (time.thread_time() - self.main0)
        self.cpu_by_role = roles

    @property
    def cpu(self) -> float:
        return sum(self.cpu_by_role.values())


def steady_round_count(seconds: float, nominal_round_s: float) -> int:
    """The steady rounds that fill about ``seconds``: an odd number, at
    least 3, so the median round is always one round's figure. It
    depends on the arguments only, never on how fast a run goes."""
    n = max(3, round(seconds / nominal_round_s))
    return n if n % 2 else n + 1


def _levelled(rounds: list[Round]) -> bool:
    return len(rounds) >= 2 and abs(rounds[-1].cpu - rounds[-2].cpu) <= WARM_TOLERANCE * rounds[-2].cpu


def warm_up(one_round, max_rounds: int, min_rounds: int = 1) -> list[Round]:
    """Run at least ``min_rounds`` rounds, then more until two
    consecutive ones' CPU agree within ``WARM_TOLERANCE``, or
    ``max_rounds`` have run."""
    rounds: list[Round] = []
    while len(rounds) < min_rounds or (len(rounds) < max_rounds and not _levelled(rounds)):
        rounds.append(one_round(len(rounds)))
    return rounds


def report_rounds(warm: list[Round], steady: list[Round]) -> None:
    """Each round's wall time, CPU and host steal, on stderr."""
    def fmt(rs):
        return ", ".join(f"{r.wall:.2f}/{r.cpu:.2f}/{r.steal:.2f}" for r in rs)
    print(f"perfbench: rounds (wall/cpu/steal s): warm-up {fmt(warm)} "
          f"({'levelled' if _levelled(warm) else 'not levelled, at its cap'}); steady {fmt(steady)}",
          file=sys.stderr)


def e2e_metrics(setup_s: float, rounds: list[Round], peak_pss_mb: float, counts: Counts) -> dict:
    lat = [x for r in rounds for x in r.latencies]
    values = {
        "setup_s": setup_s,
        "round_s": median([r.wall for r in rounds]),
        "op_p50_s": median(lat) if lat else 0.0,
        "cpu_s": median([r.cpu for r in rounds]),
        "peak_pss_mb": peak_pss_mb,
        "ok_ratio": (counts.attempted - counts.failed) / max(1, counts.attempted),
    }
    return {"metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()},
            "latencies": lat, "round_walls": [r.wall for r in rounds],
            "steal_share": sum(r.steal for r in rounds)
            / max(1e-9, sum(r.wall for r in rounds) * (os.cpu_count() or 1))}


def layer_metrics(layers: dict[str, float]) -> dict:
    """Every per-layer metric; a layer the workload does not use reads 0."""
    return {"metrics": {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                        for k, u in PER_LAYER.items()}}


def summary_line(result: dict) -> dict:
    """The benchmark's last line of output."""
    counts = result["counts"]
    return {
        "correct": counts.failed == 0,
        "attempted": counts.attempted,
        "failed": counts.failed,
        "metrics": result["metrics"],
    }
