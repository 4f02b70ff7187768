"""The correctness gate applied to every composed ``ingest()`` run.

Each check returns a list of problems; an empty list means the run
passed.  A run with any problem counts as failed.
"""

from __future__ import annotations

import hashlib
import traceback
from collections import Counter
from pathlib import Path


def corpus_digest(rows) -> str:
    """Order-independent digest over ``(url, text, split)`` rows."""
    leaves = sorted(
        hashlib.sha256(f"{url}\0{text}\0{split}".encode("utf-8")).digest()
        for url, text, split in rows
    )
    return hashlib.sha256(b"".join(leaves)).hexdigest()


def read_corpus(path: Path) -> list[tuple[str, str, str]]:
    """The written corpus, read back without Spark."""
    import pyarrow.dataset as ds

    table = ds.dataset(str(path), format="parquet").to_table(
        columns=["url", "text", "split"]
    )
    return list(zip(*(table.column(c).to_pylist() for c in ("url", "text", "split"))))


def drop_one_row(path: Path) -> None:
    """Fault injection for the self-test: delete the first row of the
    first non-empty part file of a written corpus."""
    import pyarrow.parquet as pq

    for part in sorted(path.glob("part-*.parquet")):
        table = pq.read_table(part)
        if table.num_rows:
            pq.write_table(table.slice(1), part)
            return


def check_corpus(rows, expected_digest: str) -> list[str]:
    got = corpus_digest(rows)
    if got != expected_digest:
        return [f"corpus digest {got[:16]} != expected {expected_digest[:16]} ({len(rows)} rows)"]
    return []


def check_audit(audit: dict, rows, n_extract_in: int) -> list[str]:
    """``IngestResult.audit`` counts reconcile with the written corpus and
    with the number of pages sent to extraction."""
    problems = []
    n = len(rows)
    if audit["deduped"] != [(n,)]:
        problems.append(f"audit deduped {audit['deduped']} != corpus rows {n}")
    splits = Counter(split for _, _, split in rows)
    if dict(audit["splits"]) != dict(splits):
        problems.append(f"audit splits {sorted(audit['splits'])} != corpus {sorted(splits.items())}")
    status = dict(audit["extracted"])
    if sum(status.values()) != n_extract_in:
        problems.append(f"audit extracted {status} != {n_extract_in} pages sent")
    if status.get("ok", 0) != n_extract_in:
        problems.append(f"extraction errors: {status}")
    (kept,), = audit["quality_kept"]
    if not n <= kept <= status.get("ok", 0):
        problems.append(f"audit quality_kept {kept} outside [{n}, {status.get('ok', 0)}]")
    return problems


def check_recrawl(rows, inputs, quality_kept: set[str] | None) -> list[str]:
    """No committed page in the output, and at most one survivor per
    planted duplicate cluster.  Given the urls the quality gate passed,
    exactly one survivor per cluster the gate kept any member of."""
    urls = {url for url, _, _ in rows}
    problems = []
    resurrected = urls & inputs.done_urls
    if resurrected:
        problems.append(f"{len(resurrected)} committed pages in the output")
    if quality_kept is None:
        bad = [c for c in inputs.clusters if len(urls.intersection(c)) > 1]
    else:
        bad = [
            c for c in inputs.clusters
            if len(urls.intersection(c)) != bool(quality_kept.intersection(c))
        ]
    if bad:
        problems.append(f"{len(bad)} duplicate clusters with a wrong survivor count, e.g. {bad[0]}")
    stray = urls - {u for c in inputs.clusters for u in c}
    if stray:
        problems.append(f"{len(stray)} output urls outside every cluster")
    return problems


def check_tfrecords(path: Path, rows) -> list[str]:
    """Every corpus document is packed exactly once: per split, the
    records' ``n_docs`` add up to the split's rows and the packed bytes to
    the documents' bytes plus one separator between neighbours."""
    from pdf_to_epub_spark.sources.tfrecord import decode_example, iter_tfrecord_bytes

    docs = Counter()
    text_bytes = Counter()
    for _, text, split in rows:
        docs[split] += 1
        text_bytes[split] += len(text.encode("utf-8"))
    packed_docs = Counter()
    packed_bytes = Counter()
    records = Counter()
    for part in path.glob("split=*/part-*.tfrecord"):
        split = part.parent.name.split("=", 1)[1]
        for rec in iter_tfrecord_bytes(part.read_bytes()):
            ex = decode_example(rec)
            records[split] += 1
            packed_docs[split] += ex["n_docs"][0]
            packed_bytes[split] += len(ex["text_b"][0])
    problems = []
    for split in set(docs) | set(packed_docs):
        want = text_bytes[split] + 2 * (docs[split] - records[split])
        if packed_docs[split] != docs[split] or packed_bytes[split] != want:
            problems.append(
                f"tfrecords split={split}: {packed_docs[split]} docs / {packed_bytes[split]} bytes,"
                f" corpus {docs[split]} docs / {want} bytes"
            )
    return problems


def check_parity(extracted, sample: dict, html_mode: bool) -> list[str]:
    """The extract layer's text for a fixed page sample equals the
    per-document Python function it wraps, byte for byte."""
    from pyspark.sql import functions as F

    if html_mode:
        from pdf_to_epub_spark.extractlib.htmlblocks import extract_html_document as fn
    else:
        from pdf_to_epub_spark.extractlib.pipeline import extract_document as fn

    got = dict(
        extracted.where(F.col("url").isin(list(sample))).select("url", "text").collect()
    )
    return [
        f"extract parity: {url}"
        for url, payload in sample.items()
        if got.get(url) != fn(payload).text
    ]


class Gate:
    """Applies the checks to every run and counts runs attempted and
    failed.  ``expected`` is the pinned corpus digest of the input set;
    without one (when pinning) the layer-by-layer run sets it."""

    def __init__(self, inputs, expected: str | None, err):
        self.inputs = inputs
        self.expected = expected
        self.err = err
        self.quality_kept: set[str] | None = None
        self.attempted = 0
        self.failed = 0

    def record(self, name: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"[gate] {name} FAILED:", *problems, sep="\n  ", file=self.err, flush=True)
        return not problems

    def composed(
        self, name: str, out: Path, audit: dict, corrupt: bool = False, extra=()
    ) -> bool:
        """Gate one composed ingest() from its written outputs and audit;
        ``corrupt`` first drops a row, to prove the gate trips.  ``extra``
        adds problems found by a check made beside the run."""
        problems: list[str] = list(extra)
        try:
            if corrupt:
                drop_one_row(out / "corpus")
            rows = read_corpus(out / "corpus")
            problems += check_corpus(rows, self.expected)
            n_in = self.inputs.n_pages - len(self.inputs.done_urls)
            problems += check_audit(audit, rows, n_in)
            if self.inputs.clusters:
                problems += check_recrawl(rows, self.inputs, self.quality_kept)
            if self.inputs.pack_max_tokens is not None:
                problems += check_tfrecords(out / "tfrecords", rows)
        except Exception:
            problems.append(traceback.format_exc())
        return self.record(name, problems)

    def layers(self, run, out: Path) -> bool:
        """Gate the layer-by-layer run; it also yields the urls the
        quality gate passed, for the exact per-cluster survivor check."""
        problems: list[str] = []
        try:
            rows = [tuple(r) for r in run.corpus.select("url", "text", "split").collect()]
            if self.expected is None:
                self.expected = corpus_digest(rows)
            problems += check_corpus(rows, self.expected)
            self.quality_kept = {r.url for r in run.quality_kept.select("url").collect()}
            n_in = self.inputs.n_pages - len(self.inputs.done_urls)
            if run.n_extract_in != n_in or run.status != {"ok": n_in}:
                problems.append(f"extract: {run.status} for {n_in} pages sent")
            problems += check_parity(run.extracted, self.inputs.parity_sample, self.inputs.html_mode)
            if self.inputs.clusters:
                problems += check_recrawl(rows, self.inputs, self.quality_kept)
            if "export" in run.rows_out:
                problems += check_tfrecords(out / "tfrecords", rows)
        except Exception:
            problems.append(traceback.format_exc())
        return self.record("layers", problems)
