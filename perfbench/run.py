"""Benchmark for the roster ETL & delivery engine.

    python3 perfbench/run.py --workload roster_cli --seed 1 --seconds 20 --trace 0

Run from the repository root. Makes the workload's inputs from the seed,
then runs passes of the workload, each in a fresh process (a fresh JVM
and SparkSession on local[<cores>]), until ``--seconds`` are used; at
least one pass always runs. Every operation's output is checked against
an oracle. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1`` the
per-layer ones. The lines before it give each metric with its sample
count and maximum, then each operation's median wall time (and, traced,
each query's driver-side share). Exits 1 when an output is wrong, 2 when
the engine package is missing. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_moodle_and_mass_email_sending_spark"
WORKER_TIMEOUT_S = 150.0
sys.path.insert(0, HERE)


def metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def worker_env(work: str, trace: bool) -> dict:
    """Environment of a pass process: the package importable by executor
    Python workers too, every temp file inside the work dir."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = local
    env["PYTHONWARNINGS"] = "ignore::FutureWarning"
    # -XX:-UsePerfData: a JVM would otherwise write /tmp/hsperfdata_<user>;
    # spark-class starts a launcher JVM before the driver JVM
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["SPARK_LAUNCHER_OPTS"] = java_opts
    submit = [f"--driver-java-options '{java_opts}'"]
    if trace:  # keep every job, stage and execution for the readers
        submit += [f"--conf {k}=1000000" for k in (
            "spark.ui.retainedJobs", "spark.ui.retainedStages",
            "spark.sql.ui.retainedExecutions")]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return env


def _group_alive(pgid: int) -> bool:
    """Whether a live (not zombie) process of group ``pgid`` remains."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, _ppid, pgrp = stat[stat.rindex(")") + 2:].split()[:3]
        if int(pgrp) == pgid and state != "Z":
            return True
    return False


def _reap_group(pgid: int, grace_s: float) -> None:
    """Wait for every process of the group to end, killing it after
    ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while _group_alive(pgid):
        if time.monotonic() > deadline:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                return
            deadline = time.monotonic() + 10.0
        time.sleep(0.05)


def run_pass(workload: str, inputs: str, work: str, trace: bool,
             timeout_s: float, queries: list[str] | None = None) -> dict:
    """One pass in its own process group (the worker, its JVM and the
    JVM's Python workers); returns the worker's record plus ``setup_s``,
    or ``{"error": ...}``. Every process of the group has ended on return.
    ``queries`` replaces query_mix's query list."""
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "pass.json")
    log = os.path.join(work, "pass.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload, "--inputs", inputs, "--work",
           os.path.join(work, "out"), "--out", out, "--trace", str(int(trace))]
    if queries:
        cmd += ["--queries", ",".join(queries)]
    with open(log, "wb") as logf:
        started = time.time()
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                env=worker_env(work, trace), cwd=work,
                                start_new_session=True)
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            pass
        finally:  # also on SIGTERM/KeyboardInterrupt: leave no process behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            _reap_group(proc.pid, grace_s=20.0)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            tail = f.read()[-2000:]
        return {"error": f"pass process exit {proc.returncode}: {tail}"}
    with open(out) as f:
        rec = json.load(f)
    rec["setup_s"] = rec["ready_at"] - started
    return rec


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def summarize(records: list[dict], units: dict, trace: bool) -> tuple[dict, list[str]]:
    """The result object over a run's pass records, and the lines printed
    before it. An operation counts as failed when it raised,
    exited non-zero or its output differs from the oracle; a pass process
    that died counts as one failed operation."""
    passes = [r for r in records if "error" not in r]
    failures = [f"FAILED {n}: {why}" for p in passes
                for n, why in p["verdict"].items() if why is not None]
    failures += [f"FAILED pass: {r['error']}" for r in records if "error" in r]
    attempted = sum(len(p["verdict"]) for p in passes) + len(records) - len(passes)
    failed = len(failures)
    samples: dict[str, list[float]] = {
        "setup_s": [p["setup_s"] for p in passes],
        "trace.pass_s" if trace else "pass_s": [p["pass_s"] for p in passes],
        "pass_cpu_s": [p["pass_cpu_s"] for p in passes],
    }
    if trace:
        for name in units:
            samples.setdefault(name, [p["layers"]["metrics"].get(name, 0.0)
                                      for p in passes])
    values = {n: _median(samples.get(n, [])) for n in units}
    if "ok_ratio" in units:
        values["ok_ratio"] = (attempted - failed) / attempted if attempted else 0.0
        samples["ok_ratio"] = [values["ok_ratio"]]
    lines = list(failures)
    for n, unit in units.items():
        xs = samples.get(n, [])
        lines.append(f"{n}: {values[n]:.6g} {unit} (median of {len(xs)}, "
                     f"max {max(xs, default=0.0):.6g})")
    for i, op in enumerate(passes[0]["ops"] if passes else []):
        xs = [p["ops"][i]["wall_s"] for p in passes]
        line = (f"  op {op['name']}: {_median(xs):.4g} s "
                f"(median of {len(xs)}, max {max(xs):.4g})")
        if trace and op["name"] in passes[0]["layers"]["queries"]:
            q = [p["layers"]["queries"][op["name"]] for p in passes]
            line += (f", driver_share {_median([x['driver_share'] for x in q]):.3f}"
                     f", jobs {_median([x['jobs'] for x in q]):g}")
        lines.append(line)
    result = {
        "correct": failed == 0 and bool(passes),
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }
    return result, lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanups

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__main__.py")):
        print(f"engine package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"unknown workload {a.workload!r}; one of {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2
    e2e_units, layer_units = metric_specs()

    run_dir = os.path.join(ROOT, ".perfbench_work",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    try:
        workloads.make_inputs(a.workload, a.seed, inputs)
        records: list[dict] = []
        t_start = time.monotonic()
        while True:
            t_pass = time.monotonic()
            remaining = WORKER_TIMEOUT_S - (t_pass - t_start)
            rec = run_pass(a.workload, inputs,
                           os.path.join(run_dir, f"pass{len(records)}"),
                           bool(a.trace), max(30.0, remaining))
            records.append(rec)
            shutil.rmtree(os.path.join(run_dir, f"pass{len(records) - 1}"),
                          ignore_errors=True)
            took = time.monotonic() - t_pass
            if "error" in rec or time.monotonic() - t_start + took > a.seconds:
                break
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    result, lines = summarize(records, units=layer_units if a.trace else e2e_units,
                              trace=bool(a.trace))
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
