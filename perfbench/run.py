"""Job-level web-QC benchmark over the shipped spark-submit entry points.

    python3 perfbench/run.py --workload labels_cc --seed 7 --seconds 8 --trace 0

Run from the root of a checkout.  Each run builds its seeded input
(untimed), then drives the workload's job ``main()`` in a fresh process
on ``local[<nproc>]``: a cold call, then warm calls one at a time until
``--seconds`` have passed and at least MIN_WARM_CALLS have run.  Every call starts from empty output directories and its output is
checked against the oracle's answer.

Workloads (see WORKLOADS):
  labels_cc         run_pipeline.py --mode batch --report, html padded to
                    about 8x the text bytes: metric stage, Arrow
                    boundary, batch exchange and report aggregates
  dedup_keepers     run_dedup.py --mode keepers --force: minhash sketch,
                    candidate/verify shuffle and connected components; it
                    never runs the metric kernels, so a metric-kernel
                    change should leave it unchanged

Sizing: a fresh job process pays ~8 s of set-up and a ~25 s cold call on
4 cores, and a warm call is ~90% fixed per-job cost at 2k docs as at 8k.
The inputs are therefore small (2048 docs) and a run makes the cold call
and one warm call (~9 s labels, ~12 s dedup), so one run takes under a
minute and 48 runs (22 per workload and 4 more) fit in under an hour.
``--seconds`` (5 in BENCHMARK.json) is shorter than a warm call, so every
run reports from the same mix of calls: the first warm call still pays
some JIT warm-up that later ones do not.

Metrics: ``setup_s`` is wall time from process start until
``get_spark()`` returns.  The cold and warm calls are reported as CPU
seconds summed over the job's process tree (``first_job_cpu_s``,
``cpu_s_per_kdoc``): on a shared 4-vCPU VM the hypervisor's steal
moved the wall time of the same call by 40-50% within 20 minutes while
its CPU time moved by under 10%.  The wall times (cold call after set-up,
docs/s of the warm call) are printed on the ``calls:`` line and are
per-layer metrics of the traced run (``wall.first_job_s``,
``wall.docs_per_s``).

--trace 0 prints the end-to-end metrics; --trace 1 makes a separate
traced run that prints the per-layer table.  The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}.  The exit
code is non-zero when any call fails or any output check fails.
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
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))

# A run must end well inside the 180 s a run may take.
RUN_DEADLINE_S = 165
MIN_WARM_CALLS = 1
# a traced run makes a traced and an untraced warm call at least
MIN_WARM_CALLS_TRACED = 2

WORKLOADS = {
    "labels_cc": {
        "job": "jobs/run_pipeline.py",
        "docs": 2048,
        "pad_ratio": 8,
        "args": ["--input", "{input}", "--output", "{dir}/labels", "--mode", "batch", "--report", "{dir}/report.json"],
        "probe_columns": ["url", "warc_ts", "html", "text", "lang"],
    },
    "dedup_keepers": {
        "job": "jobs/run_dedup.py",
        "docs": 2048,
        "pad_ratio": 0,
        "args": ["--input", "{input}", "--output", "{dir}/out", "--mode", "keepers", "--force", "--stats", "{dir}/stats.json"],
        "probe_columns": ["doc_id", "text"],
    },
}

# The lineage layer is measured on one traced resumable call over the
# labels_cc input, after labels_cc's traced warm calls: the same metric
# layer as one small job per warc_ts day.  It is not a workload of its
# own because its ~30 per-day jobs cost ~25 s per call, more than a run's
# share of the benchmark's time budget.
RESUMABLE_ARGS = ["--input", "{input}", "--output", "{dir}/labels", "--lineage", "{dir}/lineage", "--mode", "resumable"]

REQUIRED = ["jobs/run_pipeline.py", "jobs/run_dedup.py", "sequali_spark/__init__.py", "sequali_spark/session.py"]


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _host_env(run_dir: str, pkg: str, trace: bool) -> dict:
    """Environment of a job process: spark-submit-style confs set from
    outside the program, and every scratch path inside the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    submit = [
        f"--driver-java-options=-Djava.io.tmpdir={tmp}",
        "--conf", f"spark.executorEnv.PYTHONPATH={pkg}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update(
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(_nproc()),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
    )
    env.pop("PYTHONPATH", None)
    return env


def _run_host(spec: dict, env: dict, run_dir: str, deadline: float) -> tuple[int | None, float, float]:
    """Run one job process to its end or the deadline; return its exit
    code (None when killed at the deadline), the time it was started and,
    in a traced run, the peak RSS of its process tree.  Untraced runs do
    not sample memory, so the benchmark's own /proc reads do not compete
    with the job for CPU."""
    import proctree

    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(os.path.join(run_dir, "host.log"), "a") as log:
        started = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "host.py"), spec_path],
            cwd=run_dir, env=env, stdout=log, stderr=log, start_new_session=True,
        )
        peak = 0.0
        code = None
        try:
            while True:
                try:
                    code = proc.wait(timeout=0.2)
                    break
                except subprocess.TimeoutExpired:
                    pass
                if spec["trace"]:
                    peak = max(peak, proctree.tree_rss_mb(proc.pid))
                if time.monotonic() > deadline:
                    break
        finally:
            proctree.end_descendants()
            proc.wait()
    return code, started, peak


def _read_events(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _check_call(workload: str, call: dict, answers: dict, reference: dict) -> list[str]:
    """Problems with one call's output; ``reference`` holds the dedup
    output digest every dedup call must reproduce."""
    import checks

    if not call["ok"]:
        return [call["error"].strip().splitlines()[-1] if call["error"] else "call failed"]
    try:
        if workload == "labels_cc":
            return checks.labels_batch(call["dir"], answers)
        if workload == "resumable":
            return checks.labels_resumable(call["dir"], answers)
        problems, digest = checks.dedup_keepers(call["dir"], answers)
    except (OSError, ValueError, KeyError) as e:
        return [f"output unreadable: {e!r}"]
    reference.setdefault("digest", digest)
    if digest != reference["digest"]:
        problems.append(f"dedup output differs from {reference['source']}")
    return problems


def _digest_reference(bench_dir: str, seed: int) -> tuple[str, dict]:
    """The dedup output of a seed must be identical on every call and on
    every run in this checkout: the first run records its digest, later
    runs compare against it."""
    path = os.path.join(bench_dir, "digests", f"dedup_keepers-{seed}.txt")
    if os.path.exists(path):
        with open(path) as f:
            return path, {"digest": f.read().strip(), "source": f"an earlier run of seed {seed}"}
    return path, {"source": "the first call"}


def main() -> int:
    # a SIGTERM unwinds through the finally below like any other exit
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    import proctree

    proctree.become_subreaper()
    try:
        return _run()
    finally:
        # the job process's JVM, daemon and workers end before this one,
        # on every way out
        proctree.end_descendants()


def _run() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_DEADLINE_S

    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the root of a checkout; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import inputs
    import proctree

    wl = WORKLOADS[args.workload]
    bench_dir = os.path.join(root, ".bench_run")
    run_dir = os.path.join(bench_dir, args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # scratch files of this process and its children stay in the checkout
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    cpu_before = proctree.cpu_times()

    answers = inputs.build(args.workload, args.seed, wl["docs"], wl["pad_ratio"], os.path.join(run_dir, "input"))
    input_path = answers["table_dir"] if answers["kind"] == "pages" else os.path.dirname(answers["table_dir"])
    # the package as the job ships it: a copy of sequali_spark only
    pkg = os.path.join(run_dir, "pkg")
    shutil.copytree(os.path.join(root, "sequali_spark"), os.path.join(pkg, "sequali_spark"),
                    ignore=shutil.ignore_patterns("__pycache__", "*.pyc"))
    env = _host_env(run_dir, pkg, bool(args.trace))
    events = os.path.join(run_dir, "events.jsonl")

    spec = dict(
        pkg=pkg,
        events=events,
        job=os.path.join(root, wl["job"]),
        args=[a.replace("{input}", input_path) for a in wl["args"]],
        calls_dir=os.path.join(run_dir, "calls"),
        seconds=args.seconds,
        min_warm=MIN_WARM_CALLS_TRACED if args.trace else MIN_WARM_CALLS,
        trace=bool(args.trace),
        probe_input=answers["table_dir"],
        probe_columns=wl["probe_columns"],
    )
    if args.trace and args.workload == "labels_cc":
        # the lineage layer is measured on a traced resumable call over
        # the same input, after the warm calls
        spec.update(probe_name="resumable", probe_args=[a.replace("{input}", input_path) for a in RESUMABLE_ARGS])
    code, started, peak_rss = _run_host(spec, env, run_dir, deadline)
    records = _read_events(events)
    calls = [e for e in records if e["type"] == "call"]

    digest_path, reference = _digest_reference(bench_dir, args.seed)
    failed = 0
    for call in calls:
        found = _check_call("resumable" if call["probe"] == "resumable" else args.workload, call, answers, reference)
        if found:
            failed += 1
            print(f"perfbench: call {call['call']} failed: {'; '.join(found)}", file=sys.stderr)
    if args.workload == "dedup_keepers" and failed == 0 and calls and not os.path.exists(digest_path):
        os.makedirs(os.path.dirname(digest_path), exist_ok=True)
        with open(digest_path, "w") as f:
            f.write(reference["digest"] + "\n")
    # a job process that did not exit cleanly died or was killed in the
    # middle of a call
    attempted = len(calls) + (code != 0)
    failed += code != 0
    if code != 0:
        print(f"perfbench: job process ended with {code}; see {run_dir}/host.log", file=sys.stderr)

    context = dict(proctree.host_context(cpu_before), **answers["properties"])
    print("context: " + json.dumps(context, sort_keys=True))
    metrics: dict = {}
    ok = failed == 0 and len(calls) >= 1 + spec["min_warm"]
    if ok and not args.trace:
        cold = calls[0]
        warm = [c for c in calls[1:] if not c["probe"]]
        wall = statistics.median(c["wall_s"] for c in warm)
        metrics = {
            "setup_s": (cold["setup_t"] - started, "s"),
            "first_job_cpu_s": (cold["first_job_cpu_s"], "s"),
            "cpu_s_per_kdoc": (sum(c["cpu_s"] for c in warm) / (len(warm) * answers["docs"] / 1000), "s/kdoc"),
        }
        print(f"calls: cold {cold['wall_s']:.3f} s (first job {cold['first_job_s']:.3f} s after set-up), warm "
              + " ".join(f"{c['wall_s']:.3f}" for c in warm) + f" s; {answers['docs'] / wall:.1f} docs/s")
    elif ok:
        import layers

        table, metrics = layers.per_layer(args.workload, run_dir, records, answers, peak_rss)
        print(table)
    result = {
        "correct": ok,
        "attempted": max(attempted, 1),
        "failed": max(failed, 0 if ok else 1),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
