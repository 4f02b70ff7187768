"""The ``ingest()`` composition run two ways.

``run_ingest`` calls ``pipeline.ingest()`` as a user does and writes its
outputs.  ``run_layers`` calls each layer's public function in the order
``ingest()`` composes them and materializes every layer's output inside a
span, so each layer's Spark jobs carry that layer's name.  Both produce
the same corpus; the correctness gate compares them.
"""

from __future__ import annotations

import inspect
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

LAYERS = (
    "resume",
    "extract",
    "assemble",
    "quality_gate",
    "scrub_pii",
    "exact_dedup",
    "near_dedup",
    "split",
    "pack",
    "export",
)

# ingest() packs within each of these splits (its default split weights)
SPLITS = ("train", "val", "test")


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory.

    With ``describe`` set, a span also becomes the Spark job description
    of the jobs started inside it, and the parent's description (or none)
    is restored when it ends: the description sticks to the thread, so it
    must be cleared or it labels every later job."""

    def __init__(self, spark, run_id: str, describe: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.describe = describe
        self.spans: list[dict] = []
        self._open: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        if self.describe:
            self.sc.setJobDescription(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._open.pop()
            if self.describe:
                self.sc.setJobDescription(parent)
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent,
                 "run_id": self.run_id}
            )

    def wall(self, name: str) -> float:
        """Duration of the latest span called ``name``."""
        for s in reversed(self.spans):
            if s["name"] == name:
                return s["end"] - s["start"]
        raise KeyError(name)


def _ingest_defaults() -> dict:
    from pdf_to_epub_spark.pipeline import ingest

    return {
        k: p.default
        for k, p in inspect.signature(ingest).parameters.items()
        if p.default is not inspect.Parameter.empty
    }


def _read_inputs(spark, inputs):
    pages = spark.read.parquet(inputs.pages_path)
    done = spark.read.parquet(inputs.done_path) if inputs.done_path else None
    return pages, done


def run_ingest(spark, inputs, out: Path, tracer: Tracer, files_per_split: int):
    """One composed ``ingest()``, through the write of its outputs: the
    corpus as parquet and, when packing, the TFRecord export."""
    from pdf_to_epub_spark.pipeline import export_packed_tfrecords, ingest

    with tracer.span("ingest"):
        pages, done = _read_inputs(spark, inputs)
        result = ingest(
            pages,
            done_hashes=done,
            html_mode=inputs.html_mode,
            pack_max_tokens=inputs.pack_max_tokens,
        )
        result.corpus.write.parquet(str(out / "corpus"))
        if result.packed is not None:
            export_packed_tfrecords(
                result.packed, str(out / "tfrecords"), files_per_split=files_per_split
            )
    return result


def collect_audit(result, tracer: Tracer) -> dict[str, list[tuple]]:
    with tracer.span("audit"):
        return {k: [tuple(r) for r in df.collect()] for k, df in result.audit.items()}


def extract_sample(spark, inputs):
    """The extract layer over the parity-sample pages only."""
    from pyspark.sql import functions as F

    from pdf_to_epub_spark.operators import extract_documents, extract_html_documents

    pages, _ = _read_inputs(spark, inputs)
    sample = pages.where(F.col("url").isin(list(inputs.parity_sample)))
    extractor = extract_html_documents if inputs.html_mode else extract_documents
    return extractor(sample)


def _materialize(df):
    """Checkpoint ``df`` and count its rows in one job: the count
    computes the checkpointed partitions, which keeps them."""
    df = df.localCheckpoint(eager=False)
    return df, df.count()


@dataclass
class LayerRun:
    """Outputs of the layer-by-layer run that the gate and record use."""

    rows_out: dict[str, int] = field(default_factory=dict)
    n_extract_in: int = 0
    status: dict[str, int] = field(default_factory=dict)
    extracted: object = None
    quality_kept: object = None
    corpus: object = None


def release(spark) -> None:
    """Drop every block the layer run pinned in memory, so it cannot slow
    the runs after it."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def run_layers(spark, inputs, out: Path, tracer: Tracer, files_per_split: int) -> LayerRun:
    """Each layer's public function, in ``ingest()`` order and with its
    defaults, each output materialized inside the layer's span."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from pdf_to_epub_spark.operators import (
        assemble_documents,
        blocks_table,
        drop_exact_duplicates,
        drop_near_duplicates,
        extract_documents,
        extract_html_documents,
        hash_split,
        packed_texts,
        pending_documents,
        quality_gate,
        scrub_pii,
        with_doc_hash,
    )
    from pdf_to_epub_spark.pipeline import export_packed_tfrecords

    d = _ingest_defaults()
    run = LayerRun()
    rows = run.rows_out
    with tracer.span("layers"):
        pages, done = _read_inputs(spark, inputs)
        if done is not None:
            with tracer.span("resume"):
                payload = "html" if inputs.html_mode else "text"
                pages, rows["resume"] = _materialize(
                    pending_documents(with_doc_hash(pages, payload_col=payload), done)
                )
        with tracer.span("extract"):
            extractor = extract_html_documents if inputs.html_mode else extract_documents
            run.extracted, run.n_extract_in = _materialize(extractor(pages, salt_partitions=None))
            run.status = dict(run.extracted.groupBy("status").count().collect())
            blocks, rows["extract"] = _materialize(blocks_table(run.extracted))
        with tracer.span("assemble"):
            docs, rows["assemble"] = _materialize(
                assemble_documents(blocks).select(
                    "url", F.col("assembled_text").alias("text")
                )
            )
        with tracer.span("quality_gate"):
            kept, rows["quality_gate"] = _materialize(
                quality_gate(
                    docs,
                    id_col="url",
                    min_words=d["min_words"],
                    max_dup_line_char_ratio=d["max_dup_line_char_ratio"],
                    max_top_bigram_char_ratio=d["max_top_bigram_char_ratio"],
                )
                .where(F.col("keep_all"))
                .select("url", "text")
            )
        run.quality_kept = kept
        with tracer.span("scrub_pii"):
            scrubbed, rows["scrub_pii"] = _materialize(
                scrub_pii(kept).select(
                    "url", F.col("clean_text").alias("text"), "n_email", "n_ip", "n_phone"
                )
            )
        with tracer.span("exact_dedup"):
            exact, rows["exact_dedup"] = _materialize(
                drop_exact_duplicates(scrubbed, text_col="text", id_col="url")
            )
        with tracer.span("near_dedup"):
            # k=5 and no signature store: what ingest() passes
            deduped, rows["near_dedup"] = _materialize(
                drop_near_duplicates(
                    exact,
                    text_col="text",
                    id_col="url",
                    k=5,
                    jaccard_threshold=d["near_dup_threshold"],
                )
            )
        with tracer.span("split"):
            run.corpus, rows["split"] = _materialize(hash_split(deduped, id_col="url"))
        if inputs.pack_max_tokens is not None:
            with tracer.span("pack"):
                parts = [
                    packed_texts(
                        run.corpus.where(F.col("split") == name),
                        max_tokens=inputs.pack_max_tokens,
                        n_shards=d["pack_shards"],
                        id_col="url",
                    ).withColumn("split", F.lit(name))
                    for name in SPLITS
                ]
                packed, rows["pack"] = _materialize(reduce(DataFrame.unionByName, parts))
            with tracer.span("export"):
                export_packed_tfrecords(
                    packed, str(out / "tfrecords"), files_per_split=files_per_split
                )
                rows["export"] = rows["pack"]
    return run
