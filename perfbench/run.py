"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root.  A child process writes the workload's
inputs for ``--seed`` and computes the expected outputs, so this process
imports the package for the first time inside set-up on every run.  This
process is the single client: it starts the session, runs an untimed
first pass (the set-up a one-shot batch job pays), then runs timed
passes over the workload's jobs until ``--seconds`` have passed (at
least ``MIN_TIMED``), and finally checks every job's output from the
first and the last pass.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``.  The line before it is a report with sample counts,
input sizes and per-job times.  The exit code is 0 only when every job
ran and every output matched.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
PACKAGE = ROOT / "artis_data_ingest_spark"
DATA = ROOT / "data"  # the package's artifact caches live in data/cache
MIN_TIMED = 3  # timed passes per run, whatever --seconds is


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _environment(work: Path, trace: bool) -> dict:
    """Pin the session's core count, keep every file the run writes
    inside the checkout, and let the Python workers import the package
    (they find it only through ``PYTHONPATH``).  Driver memory is the
    package default."""
    cpus = _cpus()
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    }
    submit = [f"--driver-java-options '-Djava.io.tmpdir={tmp} "
              "-XX:-UseDynamicNumberOfCompilerThreads'",
              "--conf spark.ui.showConsoleProgress=false"]
    if trace:
        events = work / "events"
        shutil.rmtree(events, ignore_errors=True)
        events.mkdir(parents=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{events}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    os.environ.update(env)
    return {"cpus": cpus}


# the child of _prepare: reads (workload, work, seed) from stdin
_PREPARE = """
import json, pickle, sys
wl, work, seed = pickle.load(sys.stdin.buffer)
wl.make_inputs(work, seed)
(work / "expected.json").write_text(json.dumps(wl.expected()))
"""


def _prepare(wl, work: Path, seed: int) -> dict:
    """Write the inputs and compute the expected outputs (oracles are
    cached beside the inputs) in a child process that has ended when
    this returns; returns the expected outputs."""
    subprocess.run([sys.executable, "-c", _PREPARE], cwd=HERE, check=True,
                   input=pickle.dumps((wl, work, seed)))
    wl.make_inputs(work, seed)  # the files exist now; this reads sizes
    return json.loads((work / "expected.json").read_text())


def _run_pass(jobs, spark, tracer, index: int, failures: list) -> dict:
    """One pass over the jobs; returns times and outputs."""
    import procstat

    tracer.begin_pass(index)
    cpu0, t0, st0 = procstat.tree_cpu_s(), time.time(), procstat.steal()
    times, outputs = {}, {}
    with tracer.span("pass"):
        for job in jobs:
            s = time.time()
            try:
                with tracer.span(f"job.{job.name}"):
                    outputs[job.name] = job.run(spark, tracer)
            except Exception as e:  # noqa: BLE001 - a failed job is
                # counted and reported; the run goes on to the next job
                msg = getattr(e, "desc", None) or str(e)
                failures.append(
                    f"pass {index} {job.name}: {type(e).__name__}: {msg}"
                    [:2000])
            times[job.name] = time.time() - s
    t1 = time.time()
    cpu1, st1 = procstat.tree_cpu_s(), procstat.steal()
    return {"index": index, "start": t0, "end": t1, "wall": t1 - t0,
            "cpu": cpu1[0] - cpu0[0], "jit_cpu": cpu1[1] - cpu0[1],
            "steal": (st1[0] - st0[0]) / max(1, st1[1] - st0[1]),
            "times": times,
            "outputs": outputs, "traced": tracer.enabled}


def _check(jobs, expected, outputs, index: int, failures: list) -> None:
    for job in jobs:
        if job.name not in outputs:
            continue  # already counted as failed when it raised
        exp = expected.get(job.query) if job.query else expected
        msg = job.check(outputs[job.name], exp)
        if msg:
            failures.append(f"pass {index} check {msg}"[:2000])


def tree_paths(root: Path) -> set[str]:
    """Every file and directory under ``root``."""
    return {os.path.join(d, n) for d, dirs, files in os.walk(root)
            for n in dirs + files}


def _remove_new_paths(root: Path, before: set[str]) -> None:
    # sorted, a directory comes before what it holds
    for p in sorted(tree_paths(root) - before):
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.lexists(p):
            os.unlink(p)


def _relative(text: str) -> str:
    return text.replace(str(ROOT) + "/", "").replace(str(ROOT), ".")


def main(argv=None) -> int:
    args = _args(argv)
    if not PACKAGE.is_dir():
        print(f"package directory {PACKAGE.name} not found under the "
              "checkout root; nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import procstat
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: "
              f"{workloads.WORKLOADS}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    os.chdir(ROOT)
    env = _environment(WORK, bool(args.trace))
    wl = workloads.make(args.workload)
    work = WORK / f"{wl.tag}-s{args.seed}"
    data_before = tree_paths(DATA)
    t0 = time.time()
    expected = _prepare(wl, work, args.seed)
    inputs_s = time.time() - t0

    failures: list[str] = []
    passes: list[dict] = []
    try:
        with procstat.PeakRss() as rss:
            t_setup = time.time()
            from artis_data_ingest_spark.session import get_spark

            spark = get_spark(f"perfbench-{args.workload}")
            session_s = time.time() - t_setup
            spark.sparkContext.setLogLevel("ERROR")
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
            if args.trace:
                tracer.install()
                tracer.enabled = True
            wl.setup(spark, tracer)
            jobs = wl.jobs()
            passes.append(_run_pass(jobs, spark, tracer, 0, failures))
            setup_s = time.time() - t_setup

            t_end = time.time() + args.seconds
            while time.time() < t_end or len(passes) < 1 + MIN_TIMED:
                if args.trace:
                    # timed passes alternate traced, untraced, untraced,
                    # traced, ...; per-layer numbers come from the traced
                    # ones, the run's pass time from the untraced ones
                    tracer.enabled = len(passes) % 4 in (0, 1)
                passes.append(
                    _run_pass(jobs, spark, tracer, len(passes), failures))
            tracer.enabled = False
        _check(jobs, expected, passes[0]["outputs"], 0, failures)
        _check(jobs, expected, passes[-1]["outputs"], len(passes) - 1,
               failures)
    finally:
        procstat.stop_spark()
        _remove_new_paths(DATA, data_before)
        wl.cleanup()

    timed = passes[1:]
    attempted = len(jobs) * len(passes)
    failed = len(failures)
    pass_s = statistics.median(p["wall"] for p in timed if not p["traced"])
    e2e = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "rows_per_s": wl.ctx["input_rows"] / pass_s,
        "cpu_s": statistics.median(p["cpu"] for p in timed),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": env["cpus"],
        "input_rows": wl.ctx["input_rows"],
        "input_bytes": wl.ctx["input_bytes"],
        "samples": {"setup_s": 1, "pass_s": len(timed),
                    "rows_per_s": len(timed), "cpu_s": len(timed)},
        "end_to_end": e2e,
        "peak_rss_mb": rss.peak_mb,
        "error_rate": failed / attempted,
        "session_start_s": session_s,
        "inputs_and_oracle_s": inputs_s,
        "first_pass_s": passes[0]["wall"],
        "jit_cpu_s": [round(p["jit_cpu"], 2) for p in passes],
        "steal_share": [round(p["steal"], 3) for p in passes],
        "passes_s": [round(p["wall"], 4) for p in passes],
        "job_median_s": {
            j.name: round(statistics.median(p["times"][j.name]
                                            for p in timed), 4)
            for j in jobs},
        "failures": failures,
    }
    if args.trace:
        import spans as tr

        log = tr.read_event_log(next((WORK / "events").iterdir()))
        layer = tr.layer_metrics(tracer, log, passes, env["cpus"])
        untraced = [p["wall"] for p in timed if not p["traced"]]
        traced = [p["wall"] for p in timed if p["traced"]]
        layer["trace.overhead_s"] = (statistics.median(traced)
                                     - statistics.median(untraced))
        layer["session.start_s"] = session_s
        layer["peak_rss_mb"] = rss.peak_mb
        layer["error_rate"] = failed / attempted
        for j in jobs:
            if j.query:
                layer[f"plans.{j.query}.s"] = layer.get(f"job.{j.name}.s", 0.0)
        report["layers"] = layer
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0),
                               "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    line = _relative(json.dumps(report))
    (WORK / f"report-{args.workload}-s{args.seed}-t{args.trace}.json"
     ).write_text(line + "\n")
    print(line)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
