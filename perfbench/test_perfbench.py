"""Self-tests of the benchmark: seeded inputs, html padding, output checks.

    python3 -m pytest perfbench -q

Spark is not needed: outputs are planted with pyarrow.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import inputs


def _chunk(tmp_path, seed: int, kind: str = "pages", pad: int = 8, rows: int = 300, tag: str = "") -> dict:
    out = tmp_path / f"{kind}-{seed}-{pad}{tag}"
    out.mkdir()
    return inputs._make_chunk((seed, 0, rows, pad, str(out), kind)) | {"dir": str(out)}


def _answers(chunk: dict) -> dict:
    return inputs.summarize([chunk], "pages", chunk["dir"])


def test_generation_is_deterministic_per_seed(tmp_path):
    a = _chunk(tmp_path, 5)
    b = _chunk(tmp_path, 5, tag="-again")
    c = _chunk(tmp_path, 6)

    def read(ch):
        return pq.read_table(os.path.join(ch["dir"], "part-00000.parquet"))

    assert read(a).equals(read(b))
    assert a["label_digests"] == b["label_digests"]
    assert not read(a).equals(read(c))
    assert inputs.chunk_seed(5, 0) != inputs.chunk_seed(5, 1)


def test_padding_leaves_labels_unchanged(tmp_path):
    padded = _chunk(tmp_path, 9, pad=8)
    plain = _chunk(tmp_path, 9, pad=0)
    assert padded["label_digests"] == plain["label_digests"]
    assert padded["html_bytes"] > 6 * padded["text_bytes"]
    html = pq.read_table(os.path.join(padded["dir"], "part-00000.parquet"), columns=["html"]).column(0).to_pylist()
    assert all(h.startswith(inputs.HTML_HEAD) for h in html)


def _write_labels(call_dir, chunk: dict, mutate=None, by_day: bool = False):
    from sequali_spark.oracle import oracle_metrics

    pages = pq.read_table(os.path.join(chunk["dir"], "part-00000.parquet")).to_pandas()
    m = oracle_metrics(pages)
    if mutate:
        mutate(m)
    m = m[inputs.LABEL_COLUMNS + (["warc_ts"] if by_day else [])]
    labels = call_dir / "labels"
    if by_day:
        m = m.assign(day=m.pop("warc_ts").dt.strftime("%Y-%m-%d"))
        pq.write_to_dataset(pa.Table.from_pandas(m, preserve_index=False), str(labels), partition_cols=["day"])
    else:
        labels.mkdir()
        pq.write_table(pa.Table.from_pandas(m, preserve_index=False), str(labels / "part-0.parquet"))
    return m


def _flip_first_keep(m):
    m.loc[0, "keep"] = not m.loc[0, "keep"]


def test_labels_batch_check_catches_a_wrong_label_or_counter(tmp_path):
    chunk = _chunk(tmp_path, 3)
    answers = _answers(chunk)

    def check(name, mutate=None, kept_delta=0):
        call = tmp_path / name
        call.mkdir()
        _write_labels(call, chunk, mutate)
        report = {
            "counters": {"docs_seen": answers["counters"]["docs_seen"], "docs_kept": answers["counters"]["docs_kept"] + kept_delta},
            "rule_hits": answers["rule_hits"],
            "lang_hist": answers["lang_hist"],
        }
        (call / "report.json").write_text(json.dumps(report))
        return checks.labels_batch(str(call), answers)

    assert check("good") == []
    assert check("wrong-label", _flip_first_keep) != []
    kept = answers["counters"]["docs_kept"]
    assert check("wrong-counter", kept_delta=1) == [f"report docs_kept: {kept + 1} != {kept}"]


def test_labels_resumable_check_catches_a_wrong_label_and_lineage(tmp_path):
    chunk = _chunk(tmp_path, 4, pad=0)
    answers = _answers(chunk)
    for name, mutate in (("good", None), ("bad", _flip_first_keep)):
        call = tmp_path / name
        call.mkdir()
        m = _write_labels(call, chunk, mutate, by_day=True)
        (call / "lineage").mkdir()
        for day, n in m.groupby("day").size().items():
            row = {"unit": day, "status": "done", "docs_seen": int(n)}
            (call / "lineage" / f"part-{day}.json").write_text(json.dumps(row) + "\n")
        (call / "stdout.txt").write_text(json.dumps({"processed_units": answers["days"]}) + "\n")
        problems = checks.labels_resumable(str(call), answers)
        assert (problems == []) == (name == "good"), problems
    os.remove(call / "lineage" / f"part-{answers['days'][0]}.json")
    assert any("lineage" in p for p in checks.labels_resumable(str(call), answers))


def _write_keepers(call_dir, components: dict[int, int], keep: set[int], docs: int) -> None:
    out = call_dir / "out"
    out.mkdir(parents=True)
    ids = sorted(components)
    pq.write_table(
        pa.table({"doc_id": ids, "component": [components[d] for d in ids], "keep_doc": [d in keep for d in ids]}),
        str(out / "part-0.parquet"),
    )
    stats = {"resumed_signatures": False, "input_docs": docs, "clustered_docs": len(ids),
             "clusters": len(set(components.values())), "keepers": len(keep)}
    (call_dir / "stats.json").write_text(json.dumps(stats))


@pytest.mark.parametrize(
    "case, components, keep",
    [
        ("good", {1: 1, 4: 1, 2: 2, 7: 2, 9: 2}, {1, 2}),
        ("wrong keeper", {1: 1, 4: 1, 2: 2, 7: 2, 9: 2}, {4, 2}),
        ("split exact group", {1: 1, 4: 4, 2: 2, 7: 2, 9: 2}, {1, 4, 2}),
    ],
)
def test_dedup_check_catches_a_wrong_keeper_or_split_group(tmp_path, case, components, keep):
    answers = {"docs": 10, "exact_groups": [[1, 4], [7, 9]]}
    _write_keepers(tmp_path, components, keep, 10)
    problems, digest = checks.dedup_keepers(str(tmp_path), answers)
    assert (problems == []) == (case == "good"), problems
    assert len(digest) == 64


def test_dedup_check_requires_fresh_signatures(tmp_path):
    _write_keepers(tmp_path, {1: 1, 4: 1}, {1}, 10)
    stats = json.loads((tmp_path / "stats.json").read_text())
    (tmp_path / "stats.json").write_text(json.dumps(stats | {"resumed_signatures": True}))
    problems, _ = checks.dedup_keepers(str(tmp_path), {"docs": 10, "exact_groups": []})
    assert problems == ["signatures were resumed, not computed"]


def test_planted_exact_groups_are_found(tmp_path):
    chunk = _chunk(tmp_path, 11, kind="documents", pad=0, rows=600)
    answers = inputs.summarize([chunk], "documents", chunk["dir"])
    docs = pq.read_table(os.path.join(chunk["dir"], "part-00000.parquet")).to_pandas()
    for group in answers["exact_groups"]:
        assert docs.loc[group, "text"].nunique() == 1
    dup_texts = docs["text"].duplicated(keep=False)
    assert sorted(d for g in answers["exact_groups"] for d in g) == list(np.flatnonzero(dup_texts))
