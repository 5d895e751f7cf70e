"""The convert core shared by the CLI (``cli.py``) and the job service
(``jobs/service.py``): one batch of sources through the extraction
kernel, the item export sinks and the chunker, handed back as one result
per source index.

Results are keyed by source INDEX, never by file or client name: two
sources that share a name must not cross-multiply the per-format export
joins or receive each other's chunks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docling_spark.engine.extract import FORMAT_HINTS
from docling_spark.operators.chunker import hybrid_chunks
from docling_spark.operators.export import export_items
from docling_spark.operators.extract_ops import extract_turns

# md/text render from the document's extracted markdown; the rest are
# item-table serializers (the same sink registry the table job's --to
# flag uses)
ITEM_FORMATS = ("json", "yaml", "doctags", "itxt", "html",
                "html_split_page", "doclang", "dclx")
CONTENT_FORMATS = ("md", "text") + ITEM_FORMATS
# "chunks" is the chunked-JSONL sink (the reference CLI's --to chunks via
# HybridChunker, cli/main.py:447-450,596-640)
OUTPUT_FORMATS = CONTENT_FORMATS + ("chunks",)


def check_formats(to_formats, from_formats,
                  outputs: tuple[str, ...] = OUTPUT_FORMATS) -> None:
    """Raise ValueError on an unknown output or input format. A typo'd
    allow-list would otherwise silently SKIP every input, and a typo'd
    output list yield documents with no content."""
    bad = [f for f in to_formats if f not in outputs]
    if bad:
        raise ValueError(f"unknown output format(s): {','.join(bad)}")
    bad = [f for f in from_formats or () if f not in FORMAT_HINTS]
    if bad:
        raise ValueError(f"unknown input format(s): {','.join(bad)}")


def _chunk_rows(extracted: DataFrame, chunker: str, max_tokens: int,
                tokenizer_json) -> DataFrame:
    items = (
        extracted.select(F.col("conv_id").alias("uid"),
                         F.explode("items").alias("it"))
        .select("uid",
                F.col("it.item_idx").alias("item_idx"),
                F.col("it.label").alias("label"),
                F.col("it.level").alias("level"),
                F.col("it.text").alias("text"),
                F.col("it.content_layer").alias("content_layer"))
    )
    if chunker == "hierarchical":
        # one chunk per item, heading context only — the reference's
        # HierarchicalChunker (cli/main.py:471-472)
        return hybrid_chunks(items, max_tokens=1 << 30, merge_peers=False,
                             doc_col="uid", with_provenance=True)
    return hybrid_chunks(items, max_tokens=max_tokens, doc_col="uid",
                         tokenizer_json=tokenizer_json, with_provenance=True)


def convert_batch(sources: DataFrame, names: list[str], to_formats,
                  allowed_formats=None, pdf_passwords=(),
                  chunker: str = "hybrid", max_tokens: int = 128,
                  tokenizer_json=None) -> list[dict]:
    """Convert one batch of sources.

    ``sources`` has the table job's row shape (conv_id, turn_idx, role,
    text, tool) with ``conv_id`` = the source index as a string;
    ``names[i]`` is the filename source i's chunk records carry.

    Returns one dict per source index: ``status``, ``errors`` (the
    engine's error records), ``<fmt>_content`` for each requested
    content format, and ``chunks`` (the reference's
    ChunkedDocumentResultItem records, responses.py:146-163) when
    ``"chunks"`` is requested.
    """
    extracted = extract_turns(
        sources, pdf_passwords=tuple(pdf_passwords),
        allowed_formats=frozenset(allowed_formats) if allowed_formats
        else None).cache()
    try:
        plan = extracted.select(F.col("conv_id").alias("uid"), "status",
                                "extracted_text", "errors")
        for fmt in [f for f in to_formats if f in ITEM_FORMATS]:
            ser = export_items(
                extracted.select(F.col("conv_id").alias("uid"), "items"),
                fmt=fmt, keep_cols=("uid",))
            # uid is unique by construction, so this join is 1:1
            plan = plan.join(ser, "uid", "left")
        docs: list[dict] = [{} for _ in names]
        for row in plan.toLocalIterator():
            doc = docs[int(row["uid"])]
            doc["status"] = row["status"]
            doc["errors"] = [e.asDict() for e in row["errors"] or []]
            for fmt in to_formats:
                if fmt in ("md", "text"):
                    doc[f"{fmt}_content"] = row["extracted_text"]
                elif fmt in ITEM_FORMATS:
                    doc[f"{fmt}_content"] = row[fmt]
        if "chunks" in to_formats:
            for doc in docs:
                doc["chunks"] = []
            rows = _chunk_rows(extracted, chunker, max_tokens,
                               tokenizer_json).toLocalIterator()
            for row in sorted(rows, key=lambda r: (int(r["uid"]),
                                                   r["chunk_idx"])):
                i = int(row["uid"])
                # text = contextualized, raw_text = bare chunk, doc_items
                # = item self-refs (our flat-table spelling #/items/N)
                docs[i]["chunks"].append({
                    "filename": names[i],
                    "chunk_index": row["chunk_idx"],
                    "text": row["contextualized"],
                    "raw_text": row["chunk_text"],
                    "num_tokens": row["n_tokens"],
                    "headings": list(row["headings"] or []),
                    "captions": [],
                    "doc_items": [f"#/items/{n}"
                                  for n in (row["doc_items"] or [])],
                    "page_numbers": [],
                    "metadata": {},
                })
        return docs
    finally:
        extracted.unpersist()
