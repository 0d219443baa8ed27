"""Benchmark entry point; run it from the repository root.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Makes the workload's inputs from the seed, then times set-up in two
set-up-only processes and in the measured process (``worker.py``), which
runs one cold pass and warm passes over the workload. Prints one JSON line
last: ``correct``, ``attempted``, ``failed`` and the metrics BENCHMARK.json
names (end-to-end ones with ``--trace 0``, per-layer ones with
``--trace 1``). A traced run also writes every per-operation record to
``.perfbench/artifacts/``.

Every run works in a fresh ``.perfbench/run-<pid>/`` (inputs, Spark local
and temp dirs, outputs), removed at the end, and waits until every process
it started has ended.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

WORKLOADS = ("pipelines-json", "iterative-sf0.01")
SETUP_PROBES = 2  # set-up-only processes; the measured process is a third sample
RUN_DEADLINE_S = 170.0
PINNED_ENV = {
    "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
    "SPARK_GRAFT_SHUFFLE": "32",
    "SPARK_GRAFT_DRIVER_MEM": "2g",
}


def make_inputs(workload: str, seed: int, inputs: Path) -> dict:
    if workload == "pipelines-json":
        import gen_legiscan

        return gen_legiscan.write_inputs(gen_legiscan.make_corpus(seed), str(inputs))
    import gen_tables

    return gen_tables.write_tables(str(inputs), 0.01, seed)


def child_env(root: Path, work: Path) -> dict:
    env = dict(os.environ)
    env.update(PINNED_ENV)
    # Spark's Python workers import the package (pandas UDFs, mapInPandas)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), env.get("PYTHONPATH")) if p
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["TMPDIR"] = str(work / "tmp")
    env["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (env.get("SPARK_SUBMIT_OPTS"),
                    f"-Djava.io.tmpdir={work / 'tmp'}", "-XX:-UsePerfData") if p
    )
    return env


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            stat = Path(f"/proc/{entry}/stat").read_text()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(pgid: int, grace_s: float) -> None:
    """Wait until every process of the group (the worker, its JVM and
    PySpark's workers) has ended; kill what is left after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while _group_alive(pgid):
        if time.monotonic() > deadline:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                return
        time.sleep(0.05)


class Worker:
    """One worker process in its own process group; ``ready_s`` is the time
    from starting it to its PERFBENCH-READY line."""

    def __init__(self, args: list[str], env: dict, cwd: Path) -> None:
        self.started = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), *args],
            stdout=subprocess.PIPE, text=True, env=env, cwd=cwd,
            start_new_session=True,
        )
        self.lines: queue.Queue = queue.Queue()
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def wait_ready(self, deadline: float) -> None:
        """Sets ``ready_s`` and the worker's own set-up split."""
        try:
            line = self.lines.get(timeout=max(0.1, deadline - time.monotonic()))
        except queue.Empty:
            line = None
        if line is None:
            raise RuntimeError("worker ended or timed out before its session was up")
        self.ready_s = time.perf_counter() - self.started
        self.split = json.loads(line.split(" ", 1)[1])

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("PERFBENCH-READY "):
                self.lines.put(line)
            else:
                sys.stderr.write(line)
        self.lines.put(None)

    def finish(self, deadline: float) -> int:
        try:
            self.proc.wait(timeout=max(0.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(self.proc.pid, signal.SIGKILL)
            self.proc.wait()
        stop_group(self.proc.pid, grace_s=10.0)
        self.reader.join()
        return self.proc.returncode


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_DEADLINE_S

    root = Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    if not (root / "legislative_bills_database_spark").is_dir():
        print("legislative_bills_database_spark is not in the working directory",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))

    work = root / ".perfbench" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    worker = None
    try:
        inputs = work / "inputs"
        sizes = make_inputs(args.workload, args.seed, inputs)
        env = child_env(root, work)

        samples = []
        for _ in range(SETUP_PROBES):
            worker = Worker(["--setup-only"], env, work)
            worker.wait_ready(deadline)
            if worker.finish(deadline) != 0:
                raise RuntimeError("set-up-only worker failed")
            samples.append((worker.ready_s, worker.split))
        result_path = work / "result.json"
        worker = Worker([
            "--workload", args.workload, "--seed", str(args.seed),
            "--inputs", str(inputs), "--work", str(work / "run"),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--result", str(result_path),
        ], env, work)
        worker.wait_ready(deadline)
        samples.append((worker.ready_s, worker.split))
        code = worker.finish(deadline)
        if code != 0 or not result_path.exists():
            raise RuntimeError(f"worker exited with {code}")
        result = json.loads(result_path.read_text())
    finally:
        if worker is not None and worker.proc.returncode is None:
            worker.finish(deadline=0.0)  # interrupted: kill its group
        shutil.rmtree(work, ignore_errors=True)

    setup = {
        "setup_s": statistics.median(s for s, _ in samples),
        "plans.import_s": statistics.median(x["plans.import_s"] for _, x in samples),
        "session.start_s": statistics.median(x["session.start_s"] for _, x in samples),
    }
    if args.trace:
        values = {**result["layers"], "plans.import_s": setup["plans.import_s"],
                  "session.start_s": setup["session.start_s"]}
        wanted = spec["per_layer"]
        unknown = set(values) - {m["name"] for m in wanted}
        if unknown:
            raise RuntimeError(f"BENCHMARK.json does not name {sorted(unknown)}")
        artifacts = root / ".perfbench" / "artifacts"
        artifacts.mkdir(parents=True, exist_ok=True)
        (artifacts / f"{args.workload}-seed{args.seed}-trace.json").write_text(
            json.dumps({
                "workload": args.workload, "seed": args.seed, "inputs": sizes,
                "setup_samples_s": [s for s, _ in samples],
                "end_to_end_traced": {**result["e2e"], "setup_s": setup["setup_s"]},
                "passes_s": result["passes"], "layers": values,
                "problems": result["problems"], "ops": result["ops"],
            }, indent=1, default=str)
        )
    else:
        values = {**result["e2e"], "setup_s": setup["setup_s"]}
        wanted = spec["end_to_end"]
    for problem in result["problems"]:
        print(f"check failed: {problem}", file=sys.stderr)
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
            for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    # a terminated run still stops its workers and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        sys.exit(main())
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        sys.exit(1)
