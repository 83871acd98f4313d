"""aspseek_spark benchmark: crawl / search / refresh workloads.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Prepares the seeded fixture (cached per
seed under perfbench/.cache), runs the workload in its own process and
SparkSession, samples the process tree's resident memory, and prints a
report followed, as the last line, by one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run plus the tracing overhead against the untraced
runs recorded in this checkout. See perfbench/README.md."""

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
CHILD_TIMEOUT_S = 160


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _kill_tree(pids) -> None:
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_child(args, fixture: str, trace: int, work: str) -> dict:
    """Run one workload process; returns its result plus peak_rss_mb."""
    from benchlib.procmem import TreeRssSampler

    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    # keep every file the JVMs and Python workers write inside the run's
    # work directory (the launcher JVM of spark-submit too)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    cmd = [
        sys.executable, "-m", "benchlib.workloads",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--fixture", fixture, "--work", work, "--out", out,
        "--spawn-time", repr(time.time()),
    ]
    log_path = os.path.join(work, "child.log")
    with open(log_path, "w") as log:
        child = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                 stderr=subprocess.STDOUT)
        sampler = TreeRssSampler(child.pid).start()
        try:
            rc = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            _kill_tree(sampler.alive())
            child.wait()
            rc = None
        finally:
            sampler.stop()
    # the JVM and its Python workers exit with the driver; wait for them
    deadline = time.time() + 15
    while sampler.alive() and time.time() < deadline:
        time.sleep(0.1)
    _kill_tree(sampler.alive())
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(
            f"workload process failed (exit {rc}); log tail:\n{tail}"
        )
    with open(out) as f:
        res = json.load(f)
    res["peak_rss_mb"] = sampler.peak_kb / 1024.0
    res["peak_rss_parts_mb"] = {
        k: f"{len(v)} procs, {sum(v) / 1024.0:.0f} MB"
        for k, v in sorted(sampler.peak_parts.items())
    }
    return res


def _results_path(workload: str) -> str:
    return os.path.join(HERE, ".results", f"{workload}.jsonl")


def record_untraced(workload: str, seed: int, e2e: dict) -> None:
    os.makedirs(os.path.dirname(_results_path(workload)), exist_ok=True)
    with open(_results_path(workload), "a") as f:
        f.write(json.dumps({"seed": seed, **e2e}) + "\n")


def recorded_untraced(workload: str) -> list[dict]:
    try:
        with open(_results_path(workload)) as f:
            return [json.loads(line) for line in f if line.strip()]
    except FileNotFoundError:
        return []


def e2e_values(res: dict) -> dict:
    return {
        "setup_s": res["setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "op_ms": res["op_ms"],
    }


def _fmt(v) -> str:
    if v is None:
        return "n/a"
    if isinstance(v, float):
        return f"{v:.4g}"
    return str(v)


def _print_summary(name: str, s: dict, unit: str) -> None:
    pct = []
    for q in ("p50", "p90"):
        pct.append(
            f"{q}={_fmt(s[q])}" if s[q] is not None
            else f"{q}=n/a (fewer than 10 samples beyond it)"
        )
    print(f"  {name}: n={s['n']} mean={_fmt(s['mean'])} {unit} "
          + " ".join(pct))


OP_DEFINITION = {
    "crawl": "mean wall time of one committed round, CrawlJob.run_one",
    "search": "median client-observed Q latency through searchd",
    "refresh": "mean refresh cycle: Q on the main index, 2 appends each "
               "followed by Q, absorb",
}


def print_report(args, host: dict, res: dict) -> None:
    from benchlib.metrics import END_TO_END

    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace}")
    print("host: " + " ".join(f"{k}={v}" for k, v in host.items()))
    rate = res["failed"] / res["attempted"] if res["attempted"] else 1.0
    print(f"  error_rate = {res['failed']}/{res['attempted']} = {rate:.4g} "
          f"ratio (correct={res['correct']})")
    print(f"  setup_s = {res['setup_s']:.4g} s (session "
          f"{res['phases_s']['session']:.3g}"
          f" s; set-up repeats "
          + ", ".join(f"{x:.3g}" for x in res["setup_repeats_s"]) + " s)")
    print(f"  peak_rss_mb = {res['peak_rss_mb']:.5g} MB ("
          + "; ".join(f"{k}: {v}" for k, v in res["peak_rss_parts_mb"].items())
          + ")")
    print("  wall s by phase: " + " ".join(
        f"{k}={v:.3g}" for k, v in res["phases_s"].items()))
    print(f"  op_ms = {res['op_ms']:.5g} {END_TO_END['op_ms'][0]} "
          f"({OP_DEFINITION[args.workload]})")
    for k, v in res["report"].items():
        if isinstance(v, dict) and "n" in v:
            _print_summary(k, v, "s" if k.endswith("_s") else "ms")
        elif isinstance(v, dict):
            for kk, vv in v.items():
                _print_summary(f"{k}[{kk}]", vv, "ms")
        else:
            print(f"  {k} = {_fmt(v)}")
    if res.get("mismatches"):
        print(f"  MISMATCHES: {json.dumps(res['mismatches'])}")


def print_layers(res: dict, overhead: dict) -> None:
    lay = res["layers"]
    print("per-layer (mean per timed op):")
    for k in sorted(lay["report"]):
        print(f"  {k} = {_fmt(lay['report'][k])}")
    print("absent on this workload's path (reported as 0 in the JSON): "
          + ", ".join(sorted(
              k for k in lay["metrics"] if k not in lay["report"]
              and k != "trace.overhead_ratio"
          )))
    print("spans (sum over timed ops): name calls wall_ms self_ms jobs "
          "stages tasks run_ms gc_ms input_mb output_mb shuffle_mb")
    for r in lay["spans"]:
        print("  " + " ".join(_fmt(r[c]) for c in (
            "name", "calls", "wall_ms", "self_ms", "jobs", "stages", "tasks",
            "run_ms", "gc_ms", "input_mb", "output_mb", "shuffle_mb")))
    print(f"unattributed Spark jobs: {lay['report']['trace.unattributed_jobs']}"
          f" of {lay['report']['trace.jobs_total']} "
          f"(ratio {lay['report']['trace.unattributed_job_ratio']:.4g})")
    print("tracing overhead (traced − untraced, untraced = "
          f"{overhead['basis']}):")
    for k, v in overhead["delta"].items():
        print(f"  {k}: {v:+.4g}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("crawl", "search", "refresh"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        return _fail("--seconds must be positive")
    if not os.path.isdir(os.path.join(ROOT, "aspseek_spark")):
        return _fail(f"no aspseek_spark package under {ROOT}: run from the "
                     "root of a checkout")
    t_start = time.time()
    sys.path[:0] = [ROOT, HERE]
    from benchlib import fixtures
    from benchlib.metrics import END_TO_END, per_layer
    from benchlib.session import host_record, nproc

    host = host_record(ROOT)
    fixture = fixtures.prepare(os.path.join(HERE, ".cache"), args.seed,
                               nproc())
    print(f"fixture: {fixture} ({time.time() - t_start:.3g} s)")
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    try:
        if args.trace:
            past = recorded_untraced(args.workload)
            basis = "median of untraced runs recorded in this checkout"
            if not past:
                base = run_child(args, fixture, 0, work + "-base")
                past = [e2e_values(base)]
                record_untraced(args.workload, args.seed, past[0])
                basis = "an untraced run made first, same seed"
            res = run_child(args, fixture, 1, work)
            traced = e2e_values(res)
            untraced = {
                k: statistics.median(p[k] for p in past) for k in traced
            }
            overhead = {
                "basis": basis,
                "delta": {k: traced[k] - untraced[k] for k in traced},
            }
            res["layers"]["metrics"]["trace.overhead_ratio"] = (
                traced["op_ms"] / untraced["op_ms"] - 1.0
            )
            print_report(args, host, res)
            print_layers(res, overhead)
            units = per_layer()
            metrics = {
                k: {"value": res["layers"]["metrics"][k], "unit": u}
                for k, (u, _) in units.items()
            }
        else:
            res = run_child(args, fixture, 0, work)
            record_untraced(args.workload, args.seed, e2e_values(res))
            print_report(args, host, res)
            vals = e2e_values(res)
            metrics = {
                k: {"value": vals[k], "unit": u}
                for k, (u, _) in END_TO_END.items()
            }
    finally:
        for w in (work, work + "-base"):
            shutil.rmtree(w, ignore_errors=True)
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
