"""Single-core probe of the metric kernels inside ``compute_metrics``.

Runs ``compute_metrics`` on a fixed batch of the workload's own pages
(its first input part-file) with the projection of the batch job, which
keeps every metric column, timing every public kernel it calls.  The time left over is the
inline pandas work (the Gopher regex counts, the per-token alpha test,
the html UTF-8 loop, the rules and the frame build): ``kernel.other_s``.
"""

from __future__ import annotations

import contextlib
import glob
import os
import statistics
import time

REPEATS = 3

# metric name -> (module, attribute) of each kernel compute_metrics calls
KERNELS = {
    "char_class_counts": ("sequali_spark.functions.kernels", "char_class_counts"),
    "flatten_tokens": ("sequali_spark.functions.kernels", "flatten_tokens"),
    "hash_tokens": ("sequali_spark.functions.kernels", "hash_tokens"),
    "word_stats": ("sequali_spark.functions.kernels", "word_stats_from_tokens"),
    "max_char_run": ("sequali_spark.functions.kernels", "max_char_run"),
    "langid": ("sequali_spark.functions.langid", "LangIdModel.predict"),
    "perplexity": ("sequali_spark.functions.perplexity", "NgramLM.perplexities_hashed"),
    "scrub": ("sequali_spark.functions.scrub", "scrub_batch"),
    "dedup_fingerprints": ("sequali_spark.functions.kernels", "dedup_fingerprints"),
    "url_sample_mask": ("sequali_spark.functions.kernels", "url_sample_mask"),
    "doc_shingles": ("sequali_spark.functions.kernels", "doc_shingles"),
    "compression_ratios": ("sequali_spark.functions.kernels", "compression_ratios"),
}


@contextlib.contextmanager
def _timed_kernels(totals: dict):
    import importlib

    undo = []
    for name, (modname, attr) in KERNELS.items():
        owner = importlib.import_module(modname)
        *path, leaf = attr.split(".")
        for p in path:
            owner = getattr(owner, p)
        orig = getattr(owner, leaf)

        def timed(*args, _orig=orig, _name=name, **kwargs):
            t0 = time.perf_counter()
            try:
                return _orig(*args, **kwargs)
            finally:
                totals[_name] += time.perf_counter() - t0

        setattr(owner, leaf, timed)
        undo.append((owner, leaf, orig))
    try:
        yield
    finally:
        for owner, leaf, orig in undo:
            setattr(owner, leaf, orig)


def run(table_dir: str) -> dict:
    """Kernel timings, each the median of REPEATS passes after a warm-up."""
    import pyarrow.parquet as pq

    from sequali_spark.functions.metrics import compute_metrics
    from sequali_spark.pipeline import PAGES_INPUT_COLUMNS

    first = sorted(glob.glob(os.path.join(table_dir, "*.parquet")))[0]
    batch = pq.read_table(first, columns=PAGES_INPUT_COLUMNS).to_pandas()
    compute_metrics(batch)  # model load, imports
    samples: dict[str, list] = {name: [] for name in KERNELS}
    walls = []
    for _ in range(REPEATS):
        totals = dict.fromkeys(KERNELS, 0.0)
        with _timed_kernels(totals):
            t0 = time.perf_counter()
            compute_metrics(batch)
            walls.append(time.perf_counter() - t0)
        for name, t in totals.items():
            samples[name].append(t)
        samples.setdefault("other", []).append(walls[-1] - sum(totals.values()))
    out = {f"kernel.{name}_s": statistics.median(ts) for name, ts in samples.items()}
    out["kernel.docs_per_s"] = len(batch) / statistics.median(walls)
    return out
