"""Workload inputs, generated from a seed with ``sources.synth``.

Each workload writes parquet into the run's work directory; ``ingest()``
receives only what it reads back from there.  The generator also returns
the ground truth the correctness gate needs (planted duplicate clusters,
urls of already-committed pages), which never reaches the program.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field
from pathlib import Path

# Input size per workload.  One composed ingest() at this size costs a few
# seconds warm on a 4-core host; most of that is per-job overhead, so the
# measured time still grows with the extractor's per-page cost.
FULL_PAGES = {"html_pages": 160, "recrawl_dedup": 120}
QUICK_PAGES = {"html_pages": 24, "recrawl_dedup": 16}
N_FILES = 8
QUICK_N_FILES = 2
# The seed picks one of this many input sets.  Each has its output digest
# pinned in pinned.json (pin.py), so every run is checked against a known
# answer without recomputing one.
SEED_CLASSES = 16


@dataclass
class Inputs:
    """What one workload feeds ``ingest()``, plus the gate's ground truth."""

    workload: str
    pages_path: str
    n_pages: int
    html_mode: bool
    done_path: str | None = None
    pack_max_tokens: int | None = None
    # url -> raw payload for the parity sample (text, or html bytes)
    parity_sample: dict = field(default_factory=dict)
    # recrawl_dedup only: one url tuple per planted duplicate cluster
    clusters: list[tuple[str, ...]] = field(default_factory=list)
    done_urls: set[str] = field(default_factory=set)
    key: str = ""  # names the input set in pinned.json


WORKLOADS = ("html_pages", "recrawl_dedup")


def _write_bucketed(rows: list[dict], schema, path: Path, n_files: int) -> None:
    """url-hash bucketed part files: file i holds exactly bucket i."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_to_epub_spark.sources.synth import url_bucket

    path.mkdir(parents=True)
    buckets: list[list[dict]] = [[] for _ in range(n_files)]
    for r in rows:
        buckets[url_bucket(r["url"], n_files)].append(r)
    for i, chunk in enumerate(buckets):
        if chunk:
            pq.write_table(
                pa.Table.from_pylist(chunk, schema=schema),
                path / f"part-{i:05d}.parquet",
            )


def _parity_sample(rows: list[dict], payload: str, seed: int, k: int = 6) -> dict:
    picked = random.Random(seed).sample(rows, min(k, len(rows)))
    return {r["url"]: r[payload] for r in picked}


def _html_pages(work: Path, seed: int, n: int, n_files: int) -> Inputs:
    import pyarrow.parquet as pq

    from pdf_to_epub_spark.sources.synth import write_boilerplate_parquet

    path = work / "pages"
    write_boilerplate_parquet(str(path), n, seed=seed, n_files=n_files, bucket_by_url=True)
    rows = pq.read_table(path, columns=["url", "html"]).to_pylist()
    return Inputs(
        "html_pages", str(path), n, html_mode=True,
        parity_sample=_parity_sample(rows, "html", seed),
    )


def _recrawl_dedup(work: Path, seed: int, n_base: int, n_files: int) -> Inputs:
    """Half the base pages are committed (their text hash is in
    ``done_hashes``).  Every pending page is re-crawled with its last word
    dropped (a near duplicate), and a quarter of them are mirrored
    verbatim under another url (an exact duplicate)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_to_epub_spark.sources.synth import make_documents, wrap_html

    base = make_documents(n_base, seed=seed)
    rng = random.Random(seed)
    done_idx = set(rng.sample(range(n_base), n_base // 2))
    pending = [r for i, r in enumerate(base) if i not in done_idx]
    mirrored = {r["url"] for r in rng.sample(pending, len(pending) // 4)}

    rows = list(base)
    clusters = []
    for r in pending:
        copies = [(r["url"] + "-recrawl", r["text"].rsplit(None, 1)[0])]
        if r["url"] in mirrored:
            copies.append((r["url"] + "-mirror", r["text"]))
        for url, text in copies:
            rows.append(dict(r, url=url, text=text, html=wrap_html(text, url)))
        clusters.append((r["url"], *(url for url, _ in copies)))

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    pages = work / "pages"
    _write_bucketed(rows, schema, pages, n_files)

    # the committed-output table: sha256 of the payload column ingest()
    # hashes in OCR-text mode
    done = work / "done"
    hashes = [
        {"doc_hash": hashlib.sha256(base[i]["text"].encode("utf-8")).hexdigest()}
        for i in sorted(done_idx)
    ]
    done.mkdir()
    pq.write_table(pa.Table.from_pylist(hashes), done / "part-00000.parquet")

    return Inputs(
        "recrawl_dedup", str(pages), len(rows), html_mode=False,
        done_path=str(done), pack_max_tokens=2048,
        parity_sample=_parity_sample(pending, "text", seed),
        clusters=clusters,
        done_urls={base[i]["url"] for i in done_idx},
    )


def input_key(workload: str, seed: int, quick: bool) -> str:
    return f"{workload}/{'quick' if quick else 'full'}/{seed % SEED_CLASSES}"


def generate(workload: str, work: Path, seed: int, quick: bool) -> Inputs:
    """Write the workload's inputs under ``work`` (which must not exist)."""
    makers = {"html_pages": _html_pages, "recrawl_dedup": _recrawl_dedup}
    if workload not in makers:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    sizes = QUICK_PAGES if quick else FULL_PAGES
    n_files = QUICK_N_FILES if quick else N_FILES
    work.mkdir(parents=True)
    inputs = makers[workload](work, seed % SEED_CLASSES, sizes[workload], n_files)
    inputs.key = input_key(workload, seed, quick)
    return inputs
