"""Seeded benchmark inputs and their reference answers.

Everything here runs before any timing starts.  Inputs come from the
program's own page generator (``sequali_spark.fixtures.generate_pages``)
in fixed-size chunks, each seeded from the run's seed and its chunk
number, so the same seed gives byte-identical files.  The reference answers come from
the single-process oracle (``sequali_spark.oracle``) in the same pass.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per generated chunk and per written part-file.  Fixed, so the
# inputs do not depend on how the chunks are scheduled.
CHUNK_ROWS = 1024

# Columns of the label rows every labels call is checked on.
LABEL_COLUMNS = ["url", "keep", "drop_reasons", "lang_pred", "pii_hits", "tox_hits", "scrubbed_text"]

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        # Spark 4.1 rejects parquet's nanosecond timestamps
        # (PARQUET_TYPE_ILLEGAL); pandas writes nanoseconds by default
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

HTML_HEAD = b"<html><head>"
# markup the padding is drawn from: plain ASCII, so it can never change
# the html_utf8 bit, and varied enough that parquet does not compress it
# to nothing
_PAD_TAGS = [
    b'<meta name="k%d" content="v%d">',
    b'<link rel="stylesheet" href="/static/s%d.css?v=%d">',
    b'<script src="/js/app%d.js" data-build="%d"></script>',
    b'<div class="nav-item n%d"><a href="/c/%d">item</a></div>',
    b'<span id="s%d" style="margin:%dpx"></span>',
    b"<!-- tracking pixel %d slot %d -->",
]


def chunk_seed(seed: int, chunk: int) -> int:
    """Generator seed of one chunk, below 2**32: a pure function of
    (seed, chunk)."""
    return int(np.random.SeedSequence([seed, chunk]).generate_state(1)[0])


def pad_html(html: list[bytes], text_bytes: np.ndarray, ratio: int, rng: np.random.RandomState) -> list[bytes]:
    """Grow each page's html to about ``ratio`` x its text bytes by
    inserting ASCII markup right after the leading ``<html><head>``.
    Text, url and the page's UTF-8 validity are unchanged, so every label
    stays the same.  Every page gets markup of its own, so parquet
    compresses it about as well as real markup, not as one repeated run."""
    wants = [max(ratio * int(nb) - len(h), 0) if h.startswith(HTML_HEAD) else 0 for h, nb in zip(html, text_bytes)]
    # every tag is longer than 20 bytes, so this many tags cover all pages
    n_tags = sum(wants) // 20 + 1
    kinds = rng.randint(len(_PAD_TAGS), size=n_tags).tolist()
    a = rng.randint(1 << 20, size=n_tags).tolist()
    b = rng.randint(1 << 16, size=n_tags).tolist()
    markup = b"".join(_PAD_TAGS[k] % (x, y) for k, x, y in zip(kinds, a, b))
    out, pos = [], 0
    for h, want in zip(html, wants):
        if want:
            h = HTML_HEAD + markup[pos : pos + want] + h[len(HTML_HEAD) :]
            pos += want
        out.append(h)
    return out


def _label_row_digests(frame: pd.DataFrame) -> list[str]:
    """Order-free form of label rows: one digest per row.  Urls can repeat
    (the generator plants duplicate urls), so rows are compared as a
    sorted multiset of whole-row digests, not keyed by url."""
    out = []
    for url, keep, reasons, lang, pii, tox, scrubbed in zip(*(frame[c] for c in LABEL_COLUMNS)):
        h = hashlib.blake2b(digest_size=16)
        h.update(f"{url}\x1f{bool(keep)}\x1f{','.join(list(reasons))}\x1f{lang}\x1f{int(pii)}\x1f{int(tox)}\x1f".encode())
        h.update(b"\x00" if scrubbed is None else b"\x01" + bytes(scrubbed))
        out.append(h.hexdigest())
    return sorted(out)


def _make_chunk(job: tuple) -> dict:
    """Generate one chunk of pages, pad it, and compute its oracle rows."""
    from sequali_spark.fixtures import generate_pages
    from sequali_spark.oracle import oracle_metrics

    seed, chunk, n_rows, pad_ratio, out_dir, kind = job
    cseed = chunk_seed(seed, chunk)
    pages = generate_pages(n_rows, seed=cseed, base_index=chunk * CHUNK_ROWS)
    text_bytes = np.fromiter((len(t.encode("utf-8")) for t in pages["text"]), np.int64, len(pages))
    if pad_ratio:
        pages["html"] = pad_html(list(pages["html"]), text_bytes, pad_ratio, np.random.RandomState(cseed))
    metrics = oracle_metrics(pages)
    name = f"part-{chunk:05d}.parquet"
    if kind == "pages":
        table = pa.Table.from_pandas(pages[PAGES_SCHEMA.names], schema=PAGES_SCHEMA, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, name))
    else:
        doc_ids = np.arange(chunk * CHUNK_ROWS, chunk * CHUNK_ROWS + n_rows, dtype=np.int64)
        hosts = pages["url"].str.extract(r"https://([^/]+)/", expand=False)
        docs = pd.DataFrame(
            {
                "doc_id": doc_ids,
                "text": pages["text"],
                "lang": pages["lang"],
                "source": hosts,
                "n_chars": pages["text"].str.len().astype(np.int64),
            }
        )
        table = pa.Table.from_pandas(docs, schema=DOCUMENTS_SCHEMA, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, name))
    return {
        "chunk": chunk,
        "rows": n_rows,
        "text_bytes": int(text_bytes.sum()),
        "html_bytes": int(sum(len(h) for h in pages["html"])) if kind == "pages" else 0,
        "days": sorted(set(pages["warc_ts"].dt.strftime("%Y-%m-%d"))),
        "label_digests": _label_row_digests(metrics),
        "counters": {
            "docs_seen": int(len(metrics)),
            "docs_kept": int(metrics["keep"].sum()),
            "docs_scrubbed": int(((metrics["pii_hits"] > 0) | (metrics["tox_hits"] > 0)).sum()),
        },
        "metrics": metrics[["keep", "drop_reasons", "lang_pred", "pii_hits", "tox_hits", "fingerprint", "shingles"]],
        # a 128-bit text digest keys the exact-duplicate groups
        "text_keys": [hashlib.blake2b(t.encode("utf-8"), digest_size=16).digest() for t in pages["text"]],
    }


def build(workload: str, seed: int, n_docs: int, pad_ratio: int, out_dir: str) -> dict:
    """Write the workload's input table under ``out_dir`` and return its
    reference answers and input properties."""
    kind = "documents" if workload == "dedup_keepers" else "pages"
    table_dir = os.path.join(out_dir, "documents.parquet" if kind == "documents" else "pages")
    os.makedirs(table_dir, exist_ok=True)
    n_chunks = -(-n_docs // CHUNK_ROWS)
    jobs = [
        (seed, c, min(CHUNK_ROWS, n_docs - c * CHUNK_ROWS), pad_ratio, table_dir, kind)
        for c in range(n_chunks)
    ]
    # one process: a pool's helper processes (multiprocessing's resource
    # tracker) outlive the pool, and two 1k-row chunks take about 2 s
    chunks = [_make_chunk(job) for job in jobs]
    return summarize(chunks, kind, table_dir)


def summarize(chunks: list[dict], kind: str, table_dir: str) -> dict:
    """Fold per-chunk results into the workload's answers."""
    from sequali_spark.oracle import oracle_report

    metrics = pd.concat([c["metrics"] for c in chunks], ignore_index=True)
    report = oracle_report(metrics)
    docs = sum(c["rows"] for c in chunks)

    groups: dict[bytes, list[int]] = {}
    for c in chunks:
        for i, key in enumerate(c["text_keys"]):
            groups.setdefault(key, []).append(c["chunk"] * CHUNK_ROWS + i)
    exact_groups = [ids for ids in groups.values() if len(ids) > 1]
    exact_dup_docs = sum(len(ids) - 1 for ids in exact_groups)

    days = sorted(set(d for c in chunks for d in c["days"]))
    return {
        "kind": kind,
        "table_dir": table_dir,
        "docs": docs,
        "days": days,
        "label_digests": sorted(d for c in chunks for d in c["label_digests"]),
        "counters": {
            k: sum(c["counters"][k] for c in chunks) for k in ("docs_seen", "docs_kept", "docs_scrubbed")
        },
        "rule_hits": {str(k): int(v) for k, v in report["rule_hits"].items()},
        "lang_hist": report["lang_hist"],
        "exact_groups": exact_groups,
        "properties": {
            "input.docs": docs,
            "input.text_mb": sum(c["text_bytes"] for c in chunks) / 1e6,
            "input.html_mb": sum(c["html_bytes"] for c in chunks) / 1e6,
            "input.kept_share": report["docs_kept"] / docs,
            "input.scrubbed_share": report["docs_scrubbed"] / docs,
            "input.exact_dup_share": exact_dup_docs / docs,
            "input.day_units": len(days),
        },
    }
