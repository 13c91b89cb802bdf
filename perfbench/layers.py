"""Per-layer table of a traced run.

Folds the spans the job process recorded (``spans.py``) and Spark's event
log into one table per workload.  Every Spark job carries the span that
started it as its description (``<call>/<span id>``), so task metrics
add up per span.  Metric names are the contract later changes claim
against; see BENCHMARK.json for the list.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

# the per-layer names, in table order, with their units
UNITS = {
    "session.get_spark_s": "s",
    "python.worker_start_s": "s",
    "python.worker_init_s": "s",
    "scan.noop_s": "s",
    "scan.read_mb": "MB",
    "scan.tasks": "count",
    "arrow.passthrough_s": "s",
    "arrow.to_python_mb": "MB",
    "arrow.from_python_mb": "MB",
    "python.worker_run_s": "s",
    "pipeline.shuffle_write_mb": "MB",
    "metric_stage.s": "s",
    "kernel.docs_per_s": "docs/s",
    "kernel.char_class_counts_s": "s",
    "kernel.flatten_tokens_s": "s",
    "kernel.hash_tokens_s": "s",
    "kernel.word_stats_s": "s",
    "kernel.max_char_run_s": "s",
    "kernel.langid_s": "s",
    "kernel.perplexity_s": "s",
    "kernel.scrub_s": "s",
    "kernel.dedup_fingerprints_s": "s",
    "kernel.url_sample_mask_s": "s",
    "kernel.doc_shingles_s": "s",
    "kernel.compression_ratios_s": "s",
    "kernel.other_s": "s",
    "report.s": "s",
    "report.jobs": "count",
    "runtime.units": "count",
    "runtime.unit_s_p50": "s",
    "runtime.unit_s_max": "s",
    "runtime.jobs_per_unit": "count",
    "dedup.sketch_s": "s",
    "dedup.pairs_s": "s",
    "dedup.cc_s": "s",
    "dedup.keepers_write_s": "s",
    "checkpoint.manifest_s": "s",
    "dedup.cc_rounds": "count",
    "dedup.verified_pairs": "count",
    "dedup.clustered_docs": "count",
    "dedup.keepers": "count",
    "dedup.shuffle_write_mb": "MB",
    "dedup.spill_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "trace.overhead_frac": "ratio",
    "wall.first_job_s": "s",
    "wall.docs_per_s": "docs/s",
    "trace.other_s": "s",
    "proc.peak_rss_mb": "MB",
}

_PY = {
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_recv",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}


class EventLog:
    """Jobs, stages and tasks of one application, keyed by description."""

    def __init__(self, log_dir: str):
        self.jobs: list[str] = []
        self.stages: dict[tuple, dict] = {}
        self.tasks: list[dict] = []
        for path in glob.glob(os.path.join(log_dir, "*")):
            if os.path.basename(path).startswith("."):
                continue
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs.append(e.get("Properties", {}).get("spark.job.description") or "")
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            self.stages[key] = {"desc": e.get("Properties", {}).get("spark.job.description") or "", "tasks": []}
        elif kind == "SparkListenerTaskEnd":
            key = (e["Stage ID"], e.get("Stage Attempt ID", 0))
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            task = {
                "stage": key,
                "dur_ms": info["Finish Time"] - info["Launch Time"],
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "sw": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                "sr": sum(m.get("Shuffle Read Metrics", {}).get(k, 0) for k in ("Remote Bytes Read", "Local Bytes Read")),
                "in_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                "in_records": m.get("Input Metrics", {}).get("Records Read", 0),
            }
            for acc in info.get("Accumulables", []):
                field = _PY.get(acc.get("Name"))
                if field:
                    task[field] = task.get(field, 0) + int(acc.get("Update") or 0)
            stage = self.stages.setdefault(key, {"desc": "", "tasks": []})
            task["desc"] = stage["desc"]
            stage["tasks"].append(task)
            self.tasks.append(task)


def _span_of(desc: str, call: int) -> str | None:
    prefix, _, span = desc.partition("/")
    return span if prefix == str(call) else None


class CallView:
    """One call's spans, and the Spark work each span started."""

    def __init__(self, call: dict, log: EventLog):
        self.call = call
        self.spans = call["spans"]
        self.by_id = {s["id"]: s for s in self.spans}
        self.children: dict = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)
        n = call["call"]
        self.tasks = [t for t in log.tasks if _span_of(t["desc"], n) is not None]
        self.jobs = [_span_of(d, n) for d in log.jobs if _span_of(d, n) is not None]
        self.stages = [s for s in log.stages.values() if _span_of(s["desc"], n) is not None]

    @staticmethod
    def dur(s: dict) -> float:
        return s["t1"] - s["t0"]

    def subtree(self, roots: list[dict]) -> set[str]:
        ids, todo = set(), list(roots)
        while todo:
            s = todo.pop()
            ids.add(str(s["id"]))
            todo.extend(self.children.get(s["id"], []))
        return ids

    def tasks_under(self, roots: list[dict]) -> list[dict]:
        ids = self.subtree(roots)
        return [t for t in self.tasks if _span_of(t["desc"], self.call["call"]) in ids]

    def jobs_under(self, roots: list[dict]) -> int:
        ids = self.subtree(roots)
        return sum(1 for j in self.jobs if j in ids)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def top(self) -> list[dict]:
        return self.children.get(None, [])

    def self_times(self) -> dict[str, list]:
        """name -> [count, total s, self s]; the call's own time not
        under any span is ``other``."""
        out: dict[str, list] = {}
        for s in self.spans:
            kids = sum(self.dur(c) for c in self.children.get(s["id"], []))
            row = out.setdefault(s["name"], [0, 0.0, 0.0])
            row[0] += 1
            row[1] += self.dur(s)
            row[2] += self.dur(s) - kids
        out["other"] = [1, self.call["wall_s"], self.call["wall_s"] - sum(self.dur(s) for s in self.top())]
        return out


def _mb(tasks: list[dict], field: str) -> float:
    return sum(t.get(field, 0) for t in tasks) / 1e6


def _ms_s(tasks: list[dict], field: str) -> float:
    return sum(t.get(field, 0) for t in tasks) / 1000


def _scan(tasks: list[dict]) -> dict:
    """The input-table scan feeding the main stage.  Later reads of a
    persisted frame also count as input, so the tasks are those under the
    main write only."""
    return {"scan.read_mb": _mb(tasks, "in_bytes"), "scan.tasks": sum(1 for t in tasks if t["in_records"])}


def _spark_wide(v: CallView) -> dict:
    longest = max(v.stages, key=lambda s: sum(t["dur_ms"] for t in s["tasks"]), default=None)
    durs = [t["dur_ms"] for t in longest["tasks"]] if longest else []
    med = statistics.median(durs) if durs else 0
    return {
        "spark.jobs": len(v.jobs),
        "spark.stages": len(v.stages),
        "spark.tasks": len(v.tasks),
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in v.tasks) / 1e9,
        "spark.executor_run_s": _ms_s(v.tasks, "run_ms"),
        "spark.gc_s": _ms_s(v.tasks, "gc_ms"),
        "spark.shuffle_write_mb": _mb(v.tasks, "sw"),
        "spark.shuffle_read_mb": _mb(v.tasks, "sr"),
        "spark.spill_mb": _mb(v.tasks, "spill"),
        "spark.task_skew": max(durs) / med if med else 1.0,
        "arrow.to_python_mb": _mb(v.tasks, "py_sent"),
        "arrow.from_python_mb": _mb(v.tasks, "py_recv"),
        "python.worker_run_s": _ms_s(v.tasks, "py_run_ms"),
        "trace.other_s": v.self_times()["other"][2],
    }


def _labels_layers(v: CallView) -> dict:
    labels_dir = os.path.join(v.call["dir"], "labels")
    writes = [s for s in v.named("write.parquet") if s["attrs"].get("path") == labels_dir]
    end = max((s["t1"] for s in writes), default=0.0)
    report = [s for s in v.top() if s["t0"] >= end]
    return {
        **_scan(v.tasks_under(writes)),
        "metric_stage.s": sum(v.dur(s) for s in writes),
        "pipeline.shuffle_write_mb": _mb(v.tasks_under(writes), "sw"),
        "report.s": sum(v.dur(s) for s in report),
        "report.jobs": v.jobs_under(report),
    }


def _dedup_layers(v: CallView) -> dict:
    out_dir = os.path.join(v.call["dir"], "out")
    writes = v.named("write.parquet")
    sketch = v.named("dedup.exact_rep_labeled_sigs") + [s for s in writes if s["attrs"].get("path") == out_dir + "_sigs"]
    pairs = v.named("dedup.minhash_pairs_from_sigs")
    cc = v.named("dedup.connected_components")
    # the candidate/verify chain is lazy: connected_components' first
    # action materializes it, so that action is pairs time, not CC time
    materialize = [min(v.children.get(s["id"], []), key=lambda c: c["t0"]) for s in cc if v.children.get(s["id"])]
    checkpoint = [s for s in v.spans if s["name"].startswith("checkpoint.")
                  and not (s["parent"] is not None and v.by_id[s["parent"]]["name"].startswith("checkpoint."))]
    with open(os.path.join(v.call["dir"], "stats.json")) as f:
        stats = json.load(f)
    return {
        **_scan(v.tasks_under(sketch)),
        "dedup.sketch_s": sum(v.dur(s) for s in sketch),
        "dedup.pairs_s": sum(v.dur(s) for s in pairs + materialize),
        "dedup.cc_s": sum(v.dur(s) for s in cc) - sum(v.dur(s) for s in materialize),
        "dedup.keepers_write_s": sum(v.dur(s) for s in writes if s["attrs"].get("path") == out_dir),
        "checkpoint.manifest_s": sum(v.dur(s) for s in checkpoint),
        "dedup.cc_rounds": stats["cc_rounds"],
        "dedup.clustered_docs": stats["clustered_docs"],
        "dedup.keepers": stats["keepers"],
        "dedup.shuffle_write_mb": _mb(v.tasks_under(pairs + cc), "sw"),
        "dedup.spill_mb": _mb(v.tasks_under(pairs + cc), "spill"),
    }


def _lineage_layers(v: CallView) -> dict:
    rows = []
    for path in glob.glob(os.path.join(v.call["dir"], "lineage", "*.json")):
        with open(path) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    walls = [r["wall_seconds"] for r in rows]
    units = len(rows)
    return {
        "runtime.units": units,
        "runtime.unit_s_p50": statistics.median(walls) if walls else 0.0,
        "runtime.unit_s_max": max(walls, default=0.0),
        "runtime.jobs_per_unit": v.jobs_under(v.named("lineage.run_resumable")) / units if units else 0.0,
    }


def format_table(title: str, v: CallView) -> str:
    rows = sorted(v.self_times().items(), key=lambda kv: -kv[1][2])
    lines = [f"{title}: wall {v.call['wall_s']:.3f} s", f"  {'span':44s} {'n':>4s} {'total_s':>9s} {'self_s':>9s}"]
    for name, (n, total, self_s) in rows:
        lines.append(f"  {name:44s} {n:4d} {total:9.3f} {self_s:9.3f}")
    lines.append(f"  {'sum of self times':44s} {'':4s} {'':9s} {sum(r[2] for _, r in rows):9.3f}")
    return "\n".join(lines)


def per_layer(workload: str, run_dir: str, records: list[dict], answers: dict, peak_rss_mb: float) -> tuple[str, dict]:
    """The traced run's table text and its per-layer metrics."""
    import kernelprobe

    log = EventLog(os.path.join(run_dir, "eventlog"))
    calls = [r for r in records if r["type"] == "call"]
    probes = next((r for r in records if r["type"] == "probes"), {})
    cold = CallView(calls[0], log)
    warm = [c for c in calls[1:] if not c["probe"]]
    traced = [CallView(c, log) for c in warm if c["traced"]]
    untraced = [c["wall_s"] for c in warm if not c["traced"]]

    values: dict[str, list] = {}
    for v in traced:
        found = _spark_wide(v)
        found.update(_dedup_layers(v) if workload == "dedup_keepers" else _labels_layers(v))
        for k, x in found.items():
            values.setdefault(k, []).append(x)
    metrics = {k: statistics.median(xs) for k, xs in values.items()}
    metrics["session.get_spark_s"] = sum(CallView.dur(s) for s in cold.named("session.get_spark")[:1])
    metrics["python.worker_start_s"] = _ms_s(cold.tasks, "py_start_ms")
    metrics["python.worker_init_s"] = _ms_s(cold.tasks, "py_init_ms")
    for name in ("scan.noop_s", "arrow.passthrough_s"):
        metrics[name] = statistics.median(probes[name])
    metrics["dedup.verified_pairs"] = probes.get("dedup.verified_pairs", 0)
    lineage = [CallView(c, log) for c in calls if c["probe"] == "resumable"]
    metrics.update(_lineage_layers(lineage[0]) if lineage else {})
    t_traced = statistics.median(v.call["wall_s"] for v in traced)
    t_plain = statistics.median(untraced)
    metrics["trace.overhead_frac"] = (t_traced - t_plain) / t_plain
    # the wall-clock view of the end-to-end metrics, which are CPU time
    # because the hypervisor's steal swings wall time between runs
    metrics["wall.first_job_s"] = calls[0]["first_job_s"]
    metrics["wall.docs_per_s"] = answers["docs"] / t_plain
    if workload != "dedup_keepers":
        metrics.update(kernelprobe.run(answers["table_dir"]))

    metrics["proc.peak_rss_mb"] = peak_rss_mb
    out = {k: (float(metrics.get(k, 0.0)), unit) for k, unit in UNITS.items()}
    tables = [format_table(f"{workload} call {v.call['call']} (traced warm)", v) for v in traced]
    tables += [format_table(f"{workload} resumable call {v.call['call']} (traced probe)", v) for v in lineage]
    rows = [f"  {k:32s} {x:14.4f} {unit}" for k, (x, unit) in out.items()]
    return "\n".join(tables + ["per-layer metrics:"] + rows), out
