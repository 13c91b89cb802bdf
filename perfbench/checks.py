"""Output checks, one per workload, run on every call's output.

Each check returns a list of problems; an empty list means the call's
output is correct.  The answers come from ``inputs.build``, computed
independently of Spark by the pandas oracle.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from collections import Counter

import pyarrow.parquet as pq

from inputs import LABEL_COLUMNS, _label_row_digests


def _compare_labels(labels_dir: str, answers: dict) -> list[str]:
    frame = pq.read_table(labels_dir, columns=LABEL_COLUMNS).to_pandas()
    got = _label_row_digests(frame)
    if len(got) != len(answers["label_digests"]):
        return [f"label rows: {len(got)} written, {len(answers['label_digests'])} expected"]
    if got != answers["label_digests"]:
        bad = sum((Counter(got) - Counter(answers["label_digests"])).values())
        return [f"label rows: {bad} of {len(got)} differ from the oracle"]
    return []


def labels_batch(call_dir: str, answers: dict) -> list[str]:
    """Label rows and the report's counters, rule hits and language
    histogram equal the oracle's."""
    problems = _compare_labels(os.path.join(call_dir, "labels"), answers)
    with open(os.path.join(call_dir, "report.json")) as f:
        report = json.load(f)
    want = answers["counters"]
    for key in ("docs_seen", "docs_kept"):
        if report["counters"].get(key) != want[key]:
            problems.append(f"report {key}: {report['counters'].get(key)} != {want[key]}")
    if report["rule_hits"] != answers["rule_hits"]:
        problems.append("report rule_hits differ from the oracle")
    if report["lang_hist"] != answers["lang_hist"]:
        problems.append("report lang_hist differs from the oracle")
    return problems


def labels_resumable(call_dir: str, answers: dict) -> list[str]:
    """The union of the day partitions equals the oracle rows, every day
    unit ran in this call, and the lineage sums to the input rows."""
    problems = _compare_labels(os.path.join(call_dir, "labels"), answers)
    processed = None
    with open(os.path.join(call_dir, "stdout.txt")) as f:
        for line in f:
            if line.startswith('{"processed_units"'):
                processed = json.loads(line)["processed_units"]
    if processed != answers["days"]:
        problems.append(f"processed units {processed} != all {len(answers['days'])} day units")
    rows = []
    for path in glob.glob(os.path.join(call_dir, "lineage", "*.json")):
        with open(path) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    if sorted(r["unit"] for r in rows) != answers["days"]:
        problems.append("lineage does not hold exactly one row per day unit")
    if any(r["status"] != "done" for r in rows):
        problems.append("lineage holds a unit not done")
    seen = sum(r["docs_seen"] for r in rows)
    if seen != answers["docs"]:
        problems.append(f"lineage docs_seen {seen} != {answers['docs']} input rows")
    return problems


def dedup_keepers(call_dir: str, answers: dict) -> tuple[list[str], str | None]:
    """The job's keeper reconciliation holds, every planted exact-dup
    group sits in one component, and the output's digest (returned, for
    comparison across calls and runs) is computed."""
    problems = []
    with open(os.path.join(call_dir, "stats.json")) as f:
        stats = json.load(f)
    if stats.get("resumed_signatures") is not False:
        problems.append("signatures were resumed, not computed")
    if stats.get("input_docs") != answers["docs"]:
        problems.append(f"input_docs {stats.get('input_docs')} != {answers['docs']}")
    rows = pq.read_table(os.path.join(call_dir, "out"), columns=["doc_id", "component", "keep_doc"]).to_pandas()
    if stats.get("keepers") != stats.get("clusters") or stats.get("clustered_docs") != len(rows):
        problems.append(f"keeper reconciliation fails: {stats}")
    keepers = rows[rows["keep_doc"]]
    per_comp = rows.groupby("component")["doc_id"].agg(["min", "size"])
    if len(keepers) != len(per_comp) or not (keepers["doc_id"] == keepers["component"]).all():
        problems.append("components do not each have exactly one keeper")
    elif not (per_comp["min"] == per_comp.index).all() or (per_comp["size"] < 2).any():
        problems.append("a component is not labelled by its minimum doc_id or has one member")
    comp = dict(zip(rows["doc_id"], rows["component"]))
    split = [g for g in answers["exact_groups"] if len({comp.get(d) for d in g}) != 1 or g[0] not in comp]
    if split:
        problems.append(f"{len(split)} exact-duplicate groups are not each in one component")
    h = hashlib.sha256()
    for r in rows.sort_values("doc_id").itertuples(index=False):
        h.update(f"{r.doc_id},{r.component},{bool(r.keep_doc)};".encode())
    return problems, h.hexdigest()
