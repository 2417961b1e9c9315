"""End-to-end webtext curation pipeline (r6): WARC shards → extracted
text → Gopher quality gate → exact dedup → curated documents table.

This is the composition a training-data pipeline actually runs, wired
from the engine's own stages so the whole thing is ONE Catalyst plan
until the dedup shuffle:

  1. ingest    — sources/warc.py, one task per shard, records streamed;
  2. extract   — operators/textstats.extract_text_col (script/style
                 strip → body → tag strip), pure regexp expressions;
  3. quality   — operators/textstats.gopher_pass_col (Rae 2021 rules),
                 pure higher-order expressions;
  4. dedup     — exact content dedup: md5-group, keep the smallest
                 doc_id (deterministic winner), one hash shuffle.

Scale shape: stages 1-3 are narrow (no shuffle at all — filter
pushdown happens before the single exchange), stage 4 is one
hash-partitioned aggregation on the content digest. At 100 TB the
plan is: scan → project/filter (codegen) → exchange(md5) → agg.
Nothing driver-side grows with data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.warc import warc_to_documents
from .textstats import extract_text_col, gopher_pass_col

__all__ = ["curate_from_warc", "curate_documents", "probe_warc_media"]


def probe_warc_media(spark, paths) -> DataFrame:
    """The media pre-filter stage of the crawl pipeline (r7, VERDICT r6
    item 8): every non-page payload (image/audio/video content types,
    plus octet-stream) gets a HEADER-ONLY route verdict — 'decode' (an
    in-house decoder exists), 'probe_only' (compressed codec: keep
    container/codec/geometry metadata, never decode — the honest answer
    for H.264/VP9/MP3/foreign-VP8 without ffmpeg) or 'skip'. At 100 TB
    this runs before ANY decoder: bytes touched per payload are
    O(header), so the stage is scan-bound. Returns (doc_id, url,
    content_type, kind, container, codec, route)."""
    from ..sources.warc import warc_to_records
    from .multimodal import route_media_records

    recs = warc_to_records(spark, paths).filter(
        (F.col("status") == 200)
        & (
            F.col("content_type").startswith("image/")
            | F.col("content_type").startswith("audio/")
            | F.col("content_type").startswith("video/")
            | F.col("content_type").startswith("application/octet-stream")
        )
    )
    routed = route_media_records(recs.select("doc_id", "body"))
    return routed.join(
        recs.select("doc_id", "url", "content_type"), "doc_id"
    ).select(
        "doc_id", "url", "content_type", "kind", "container", "codec",
        "route",
    )


def _gopher_gate(gopher: str):
    """Select the quality gate: 'base' = the r6 bounds/lines/bigram
    rules, 'full' = every Rae 2021 A1.1 rule including the r7
    repetition set (dup paragraphs, top 2/3/4-gram, dup 5..10-gram
    coverage), 'off' = no gate."""
    if gopher == "full":
        from .textstats import gopher_full_pass_col

        return gopher_full_pass_col
    if gopher == "off":
        return None
    return gopher_pass_col


def curate_documents(
    docs: DataFrame, html_col: str = "html", gopher: str = "base"
) -> DataFrame:
    """documents with raw HTML → curated (doc_id, url, text, n_chars):
    extract → Gopher gate → exact dedup keeping the smallest doc_id
    per distinct content digest."""
    extracted = docs.withColumn(
        "text", extract_text_col(html_col)
    ).drop(html_col)
    gate = _gopher_gate(gopher)
    kept = extracted.filter(gate("text")) if gate else extracted
    # exact dedup: one shuffle on the digest; min() winner keeps the
    # row deterministic under any partitioning
    digested = kept.withColumn("digest", F.md5(F.encode("text", "UTF-8")))
    winners = digested.groupBy("digest").agg(
        F.min("doc_id").alias("doc_id")
    )
    # winners has ~the same cardinality as the deduped corpus, so this
    # stays a shuffle join (never broadcast); both sides already hash
    # on digest from the aggregation, so AQE reuses the exchange
    deduped = digested.join(winners, on=["digest", "doc_id"], how="inner")
    return deduped.select(
        "doc_id", "url", "text", F.length("text").alias("n_chars")
    )


def curate_from_warc(spark, paths, include_pdf: bool = True,
                     gopher: str = "base") -> DataFrame:
    """WARC shard paths → curated documents DataFrame. HTTP-level
    filters (status 200, HTML or PDF content type) run before
    extraction so non-page records never reach the expensive stages.
    HTML pages stay in the pure-Catalyst path; application/pdf bodies
    (r6) go through the own PDF text extractor (functions/pdf.py) in
    an Arrow-batched stage, then rejoin the same Gopher gate + dedup.
    Media payloads (image/audio/video) are NOT decoded here — run the
    companion :func:`probe_warc_media` stage to route them by codec
    (header-only) before any decoder touches bytes."""
    raw = warc_to_documents(spark, paths).withColumnRenamed("text", "html")
    pages = raw.filter(
        (F.col("status") == 200)
        & F.col("content_type").startswith("text/html")
    )
    docs = curate_documents(pages, "html", gopher=gopher)
    if not include_pdf:
        return docs
    from ..sources.warc import warc_to_records

    recs = warc_to_records(spark, paths).filter(
        (F.col("status") == 200)
        & F.col("content_type").startswith("application/pdf")
    )

    def gen(batches):
        import pandas as pd

        from ..functions.pdf import extract_pdf_text

        for pdf in batches:
            rows = []
            for doc_id, url, body in zip(
                pdf["doc_id"], pdf["url"], pdf["body"]
            ):
                try:
                    text, _meta = extract_pdf_text(bytes(body))
                except ValueError:
                    continue  # mislabeled content type: drop, don't fail
                rows.append((int(doc_id), url, text))
            yield pd.DataFrame(rows, columns=["doc_id", "url", "text"])

    pdf_texts = recs.mapInPandas(
        gen, schema="doc_id bigint, url string, text string"
    )
    pdf_gate = _gopher_gate(gopher)
    pdf_kept = pdf_texts.filter(pdf_gate("text")) if pdf_gate else pdf_texts
    pdf_digested = pdf_kept.withColumn(
        "digest", F.md5(F.encode("text", "UTF-8"))
    )
    pdf_winners = pdf_digested.groupBy("digest").agg(
        F.min("doc_id").alias("doc_id")
    )
    pdf_docs = pdf_digested.join(
        pdf_winners, on=["digest", "doc_id"], how="inner"
    ).select("doc_id", "url", "text", F.length("text").alias("n_chars"))
    return docs.unionByName(pdf_docs)
