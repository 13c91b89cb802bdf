"""Job host: runs one shipped job's ``main()`` the way ``spark-submit``
would, in this fresh process, as a closed loop with one client.

    python3 perfbench/host.py <spec.json>

The spec names the job file, its arguments (``{dir}`` stands for a fresh,
empty directory per call), how long to keep issuing warm calls, and
whether to trace.  The first call is the cold one: it pays for Python
worker start, model load and code generation.  Every call is appended to
``events.jsonl`` as soon as it ends, so a run that is killed still leaves
what it finished.
"""

from __future__ import annotations

import contextlib
import json
import os
import runpy
import sys
import time
import traceback


def _emit(path: str, record: dict) -> None:
    with open(path, "a") as f:
        f.write(json.dumps(record) + "\n")


def _probe(spark, name: str, fn, repeats: int = 3) -> list[float]:
    """Time ``fn`` ``repeats`` times, tagging its Spark jobs ``probe/<name>``."""
    out = []
    for _ in range(repeats):
        spark.sparkContext.setJobDescription(f"probe/{name}")
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    return out


def _run_probes(spark, rec, spec: dict, events: str) -> None:
    """Traced-run probes: the scan alone, the scan through an Arrow
    ``mapInPandas`` that only consumes its batches, and the verified pair
    count of the last dedup call (outside any call's measurement)."""
    import pandas as pd

    table = spark.read.parquet(spec["probe_input"]).select(*spec["probe_columns"])

    def scan():
        table.write.format("noop").mode("overwrite").save()

    def _consume(batches):
        rows = 0
        for pdf in batches:
            rows += len(pdf)
        yield pd.DataFrame({"rows": [rows]})

    def passthrough():
        table.mapInPandas(_consume, schema="rows long").write.format("noop").mode("overwrite").save()

    probes = {"scan.noop_s": _probe(spark, "scan", scan), "arrow.passthrough_s": _probe(spark, "passthrough", passthrough)}
    pairs = rec.returned.get("dedup.minhash_pairs_from_sigs")
    if pairs is not None:
        spark.sparkContext.setJobDescription("probe/pairs")
        probes["dedup.verified_pairs"] = pairs.count()
        spark.sparkContext.setJobDescription(None)
    _emit(events, {"type": "probes", **probes})


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    events = spec["events"]
    # the package reaches this driver the way --py-files puts it on the
    # driver's path; the workers get it from spark.executorEnv.PYTHONPATH
    sys.path.insert(0, spec["pkg"])

    import proctree
    import spans
    from sequali_spark import session

    proctree.die_with_parent()

    rec = spans.Recorder()
    if spec["trace"]:
        spans.install(rec)
    me = os.getpid()
    ready = {}
    get_spark = session.get_spark

    def timed_get_spark(*args, **kwargs):
        spark = get_spark(*args, **kwargs)
        if not ready:
            ready.update(t=time.time(), perf=time.perf_counter(), cpu=proctree.tree_cpu_s(me))
        return spark

    session.get_spark = timed_get_spark
    job_main = runpy.run_path(spec["job"], run_name="perfbench_job")["main"]

    def one_call(call: int, args: list[str], traced: bool, probe: str | None = None) -> bool:
        call_dir = os.path.join(spec["calls_dir"], f"c{call:03d}")
        os.makedirs(call_dir)
        argv = [spec["job"], *(a.replace("{dir}", call_dir) for a in args)]
        cpu0 = proctree.tree_cpu_s(me)
        t0 = time.perf_counter()
        ok, err = True, None
        rec.begin_call(call, traced)
        try:
            with open(os.path.join(call_dir, "stdout.txt"), "w") as out, contextlib.redirect_stdout(out):
                sys.argv = argv
                job_main()
        except (Exception, SystemExit):
            ok, err = False, traceback.format_exc()
            print(err, file=sys.stderr)
        finally:
            span_list = rec.end_call()
        t1 = time.perf_counter()
        cpu1 = proctree.tree_cpu_s(me)
        record = {
            "type": "call", "call": call, "dir": call_dir, "ok": ok, "error": err, "probe": probe,
            "wall_s": t1 - t0, "cpu_s": cpu1 - cpu0, "traced": traced,
            "spans": [dict(s, t0=s["t0"] - t0, t1=s["t1"] - t0) for s in span_list],
        }
        if call == 0:
            record["setup_t"] = ready.get("t")
            record["first_job_s"] = t1 - ready["perf"] if ready else None
            record["first_job_cpu_s"] = cpu1 - ready["cpu"] if ready else None
        _emit(events, record)
        return ok

    # the cold call, then warm calls until the time is up.  Traced runs
    # trace the cold call, for the worker start-up metrics, and order the
    # warm calls traced, untraced, untraced, traced (repeating), so the
    # tracing overhead is measured in one process without favouring either
    # side with the later, warmer calls.
    if not one_call(0, spec["args"], spec["trace"]):
        return
    warm_start = time.perf_counter()
    call = 1
    while True:
        if not one_call(call, spec["args"], spec["trace"] and call % 4 in (0, 1)):
            return
        call += 1
        if time.perf_counter() - warm_start >= spec["seconds"] and call - 1 >= spec["min_warm"]:
            break
    if spec.get("probe_args"):
        if not one_call(call, spec["probe_args"], True, probe=spec["probe_name"]):
            return

    if spec["trace"]:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        _run_probes(spark, rec, spec, events)
        # stop() flushes and closes the event log
        spark.stop()


if __name__ == "__main__":
    main()
