"""Chunking operators — the reference's chunker surface (HybridChunker /
HierarchicalChunker, docling/chunking/__init__.py:7-13; CLI chunked-JSONL
sink docling/cli/main.py:594-622) re-expressed as table-generating
DataFrame ops: build an ``array<struct>`` of chunks per document JVM-side,
then ``explode`` — the Spark UDTF shape, no Python in the path.

Scale notes: chunking is per-row (no shuffle); the explode multiplies rows
before any downstream shuffle, so chunk early only if the next op needs
chunk granularity — otherwise chunk after filtering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docling_spark.operators.textstats import norm_text, token_count


def fixed_token_chunks(
    docs: DataFrame,
    text_col: str = "text",
    chunk_tokens: int = 16,
    overlap: int = 0,
) -> DataFrame:
    """Fixed-size token-window chunks: (doc_id, chunk_idx, chunk_text,
    n_tokens). Tokenization = whitespace on normalized text (the same
    splitter as textstats token counting); windows advance by
    ``chunk_tokens - overlap``.

    All JVM-side: one split, one sequence/transform, one explode.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("overlap must be in [0, chunk_tokens)")
    step = chunk_tokens - overlap
    norm = norm_text(F.col(text_col))
    toks = F.split(norm, " ")
    # null-safe: norm of a NULL text is NULL — without isNull in the
    # gate, n stays NULL, the n<=0 guard doesn't fire and greatest(NULL,
    # 1) fabricates a phantom ('', n_tokens=1) chunk for every
    # failed-extraction row (extracted_text is nullable)
    n = F.when(norm.isNull() | (norm == ""), F.lit(0)) \
        .otherwise(F.size(toks))
    # clamp: a non-empty doc always yields ≥1 chunk — without the
    # greatest(), 0 < n_tokens <= overlap made n_chunks 0 and silently
    # dropped the document (ADVICE r1)
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.greatest(
            F.floor((n - F.lit(overlap) + F.lit(step) - 1) / F.lit(step)),
            F.lit(1),
        ).cast("int")
    )
    idx = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    chunks = F.when(
        n_chunks > 0,
        F.transform(
            idx,
            lambda i: F.struct(
                i.cast("int").alias("chunk_idx"),
                F.concat_ws(
                    " ", F.slice(toks, i * step + 1, chunk_tokens)
                ).alias("chunk_text"),
            ),
        ),
    ).otherwise(F.array())
    out = docs.select("doc_id", F.explode(chunks).alias("ch")).select(
        "doc_id",
        F.col("ch.chunk_idx").alias("chunk_idx"),
        F.col("ch.chunk_text").alias("chunk_text"),
    )
    return out.withColumn(
        "n_tokens", F.size(F.split(F.col("chunk_text"), " "))
    )


def heading_contextual_chunks(
    items: DataFrame,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Hierarchical chunking over the flattened item table: one chunk per
    body text-bearing item, contextualized with the nearest preceding
    heading (the HybridChunker "headings prefix" contract).

    Input: items table (doc, item_idx, label, text, content_layer).
    Output: (doc, chunk_idx, heading, chunk_text).

    Spark-first: the "nearest preceding heading" is ``last(heading_text,
    ignorenulls) OVER (PARTITION BY doc ORDER BY item_idx)`` — a window,
    not a per-document loop (SURVEY.md §2.e heading-stack analog).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(doc_col).orderBy("item_idx")
    # heading candidates come from the BODY layer only — a furniture
    # page-header/title repeating mid-document must not override the
    # true section heading for the chunks after it
    heading = F.when(
        F.col("label").isin("title", "section_header")
        & (F.col("content_layer") == "body"), F.col("text")
    )
    enriched = items.withColumn(
        "heading", F.last(heading, ignorenulls=True).over(w)
    )
    body = enriched.filter(
        (F.col("content_layer") == "body")
        & F.col("label").isin("text", "list_item", "code", "caption")
        & (F.length("text") > 0)
    )
    w2 = Window.partitionBy(doc_col).orderBy("item_idx")
    return body.select(
        F.col(doc_col),
        (F.row_number().over(w2) - 1).alias("chunk_idx"),
        F.coalesce(F.col("heading"), F.lit("")).alias("heading"),
        F.col("text").alias("chunk_text"),
    )


def budget_chunks(
    items: DataFrame,
    max_tokens: int = 24,
    doc_col: str = "doc_id",
) -> DataFrame:
    """HybridChunker analog: pack consecutive body items (under their
    heading context) into chunks of at most ``max_tokens`` whitespace
    tokens, never splitting an item.

    Distributed formulation: the bin id is
    ``floor(cumsum_tokens_exclusive / max_tokens)`` over the per-(doc,
    heading) item window — a pure window cumsum, no stateful scan. An item
    longer than the budget gets its own bin (its exclusive-cumsum start is
    aligned to a bin edge only approximately; greedy first-fit and
    cumsum-binning differ only when items straddle edges, a deliberate
    trade for a shuffle-free, oracle-reproducible plan).

    Sections are keyed by the heading item's ``item_idx``
    (``heading_idx``), NOT by its text: two sections whose headings read
    the same pack independently, matching the HybridChunker's
    consecutive-item semantics (ADVICE r1 — text-keyed grouping
    interleaved such sections).

    Input: item table (doc, item_idx, label, text, content_layer).
    Output: (doc, heading, heading_idx, chunk_id, chunk_text, n_tokens).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(doc_col).orderBy("item_idx")
    # body-layer headings only (same rule as heading_contextual_chunks)
    is_heading = F.col("label").isin("title", "section_header") \
        & (F.col("content_layer") == "body")
    heading = F.when(is_heading, F.col("text"))
    heading_idx = F.when(is_heading, F.col("item_idx"))
    enriched = items.withColumn(
        "heading", F.coalesce(F.last(heading, ignorenulls=True).over(w), F.lit(""))
    ).withColumn(
        "heading_idx",
        F.coalesce(F.last(heading_idx, ignorenulls=True).over(w), F.lit(-1))
        .cast("int"),
    )
    body = enriched.filter(
        (F.col("content_layer") == "body")
        & F.col("label").isin("text", "list_item", "code", "caption")
        # norm-based gate: length>0 let whitespace-only items (tabs,
        # newlines — trim strips ASCII spaces only) through with 1-2
        # phantom tokens polluting the budget
        & (norm_text(F.col("text")) != "")
    ).withColumn("n_tok", token_count(F.col("text")))
    wh = Window.partitionBy(doc_col, "heading_idx").orderBy("item_idx")
    cum_excl = F.coalesce(
        F.sum("n_tok").over(wh.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    binned = body.withColumn(
        "chunk_id", F.floor(cum_excl / F.lit(max_tokens)).cast("int")
    )
    return (
        binned.groupBy(doc_col, "heading", "heading_idx", "chunk_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct(F.col("item_idx"), F.col("text")))
                ).getField("text"),
                " ",
            ).alias("chunk_text"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )


def make_counting(tokenizer_spec: "dict | None"):
    """(head_cost, wcost, sep_cost) — the counting abstraction shared by
    the batch kernel and the streaming chunker. Additivity (pinned by
    test_bpe parity tests) lets the scan stay linear: a window's/merge's
    count is the sum of per-word costs plus a fixed separator cost,
    never a from-scratch re-encode of the growing chunk. Whitespace mode
    (spec None) reproduces the oracle-checked legacy behavior
    bit-for-bit (wcost=1, sep=0)."""
    if tokenizer_spec is None:
        def head_cost(path):
            return sum(len(h.split()) for h in path)

        def wcost(word, first):
            return 1

        return head_cost, wcost, 0

    from docling_spark.functions.bpe import Tokenizer

    tok = Tokenizer(tokenizer_spec)
    # byte-level BPE keeps "\n" as its own pretoken (cost 1);
    # WordPiece's whitespace split erases it (cost 0)
    sep_cost = tok.count("a\nb") - tok.count("a") - tok.count("b")

    def head_cost(path):
        # heading block INCLUDING the trailing separator before the
        # body text, so head_cost + sum(word costs) ==
        # count(contextualized) exactly
        if not path:
            return 0
        return tok.count("\n".join(list(path) + [""]))

    def wcost(word, first):
        return tok.count(word if first else " " + word)

    return head_cost, wcost, sep_cost


def scan_doc(its, max_tokens: int, merge_peers: bool,
             head_cost, wcost, sep_cost) -> list:
    """One document's ordered items → [(heading_path, chunk_text,
    n_body_tokens, contributing_item_ids)] — the per-document
    HybridChunker scan (heading stack → oversize split → peer merge)
    shared by the batch kernel and the streaming chunker. ``its`` rows
    need ``label``, ``text``, ``level``, ``item_idx`` lookups (Spark
    struct rows and plain dicts both work)."""
    import pandas as pd

    stack: list = []  # (level, text)
    chunks: list = []  # (path, text, ntok, item_ids)
    for it in its:
        label = it["label"]
        text = it["text"]
        if label in ("title", "section_header"):
            lv = it["level"]
            lv = 1 if lv is None or pd.isna(lv) else int(lv)
            while stack and stack[-1][0] >= lv:
                stack.pop()
            stack.append((lv, text))
            continue
        iid = int(it["item_idx"])
        path = tuple(t for _, t in stack)
        head_tok = head_cost(path)
        avail = max(max_tokens - head_tok, 1)
        toks = text.split()
        costs = [wcost(w, k == 0) for k, w in enumerate(toks)]
        total = sum(costs)
        if total <= avail:
            chunks.append((path, " ".join(toks), total, [iid]))
        else:
            # greedy windows: grow while the window still fits; a
            # window always takes >= 1 word. The window's first word
            # re-costs as first=True — it loses its leading space when
            # the window becomes its own chunk text.
            s = 0
            while s < len(toks):
                cum = wcost(toks[s], True)
                e = s + 1
                while e < len(toks) and cum + costs[e] <= avail:
                    cum += costs[e]
                    e += 1
                chunks.append((path, " ".join(toks[s:e]), cum, [iid]))
                s = e
    if merge_peers:
        merged: list = []
        for path, text, ntok, ids in chunks:
            if merged and merged[-1][0] == path:
                head_tok = head_cost(path)
                if merged[-1][2] + sep_cost + ntok \
                        + head_tok <= max_tokens:
                    merged[-1][1] += "\n" + text
                    merged[-1][2] += sep_cost + ntok
                    # same item split then re-merged: the provenance
                    # ref appears once
                    if merged[-1][3][-1] != ids[0]:
                        merged[-1][3].extend(ids)
                    continue
            merged.append([path, text, ntok, list(ids)])
        chunks = [tuple(m) for m in merged]
    return chunks


def hybrid_chunks(
    items: DataFrame,
    max_tokens: int = 128,
    merge_peers: bool = True,
    doc_col: str = "doc_id",
    tokenizer_json: "str | dict | None" = None,
    with_provenance: bool = False,
) -> DataFrame:
    """Token-aware hybrid chunking — the docling-core HybridChunker
    pipeline (docling/chunking/__init__.py:7-13, driven by the CLI's
    chunked-JSONL sink docling/cli/main.py:594-622) re-expressed over the
    flattened items table.

    Token counting has two modes. Default (``tokenizer_json=None``):
    this repo's deterministic whitespace tokenizer (oracle-expressible —
    the contract queries pin this mode). With ``tokenizer_json`` (a path
    to, or parsed dict of, a HuggingFace ``tokenizer.json`` file — the
    format the reference's HybridChunker downloads), counts come from
    the from-scratch BPE/WordPiece encoder in ``functions/bpe.py``, so a
    user supplying the reference's tokenizer file gets the reference's
    token counts and therefore its chunk boundaries. The spec ships to
    executors as a Spark broadcast and the encoder builds once per task,
    Arrow-batched — never per-row Python. Chunking rules (identical in
    both modes):

    1. hierarchical pass: one chunk candidate per body item
       (text/list_item/code/caption), carrying the ACTIVE HEADING PATH —
       a stack keyed by heading level (title/section_header), where a new
       heading pops every entry at its level or deeper;
    2. oversize split: a candidate whose contextualized form exceeds
       ``max_tokens`` splits its own text into windows of
       ``max_tokens - tokens(heading path)`` tokens (the doc-item split
       then plain-text split of HybridChunker);
    3. peer merge (``merge_peers=True``): CONSECUTIVE chunks with an
       identical heading path merge greedily — sequentially, in order —
       while the merged contextualized form still fits; texts join with
       a newline;
    4. contextualize: the serialized chunk is
       ``"\\n".join(heading path + [chunk text])`` and ``n_tokens`` counts
       that contextualized form (what the CLI reports per chunk record).

    The greedy merge is order-sequential per document (chunk k's verdict
    depends on how much chunk k-1 absorbed), so the operator runs as a
    bounded per-document packed kernel: items pack to one row per doc
    (sorted struct array), ONE batched mapInPandas executes the scan —
    the bookmark-greedy pattern (heading_levels.py:249-283). Per-doc cost
    is linear in items; no shuffle beyond the doc-keyed pack, linear at
    100 TB.

    Input: items table (doc, item_idx, label, level?, text,
    content_layer). Output: (doc, chunk_idx, headings array<string>,
    chunk_text, contextualized, n_tokens); with ``with_provenance`` an
    extra ``doc_items array<bigint>`` column lists the contributing
    items' ``item_idx`` in order (the ``meta.doc_items`` self-refs of
    the reference's DocChunk, cli/main.py:632-634) — opt-in so the
    oracle-pinned default schema never changes.
    """
    import pandas as pd

    if max_tokens < 2:
        raise ValueError("max_tokens must be >= 2 (heading context plus "
                         "at least one body token)")
    if tokenizer_json is None:
        bc_spec = None
    else:
        if isinstance(tokenizer_json, str):
            import json as _json
            with open(tokenizer_json, encoding="utf-8") as fh:
                spec = _json.load(fh)
        else:
            spec = tokenizer_json
        bc_spec = items.sparkSession.sparkContext.broadcast(spec)
    doc_type = {f.name: f.dataType.simpleString()
                for f in items.schema.fields}[doc_col]
    lvl = (F.col("level").cast("int") if "level" in items.columns
           else F.lit(None).cast("int"))
    packed = (
        items.filter(
            F.col("label").isin("title", "section_header", "text",
                                "list_item", "code", "caption")
            & (F.col("content_layer") == "body")
            & (norm_text(F.col("text")) != "")
        )
        .groupBy(doc_col)
        .agg(F.array_sort(F.collect_list(F.struct(
            F.col("item_idx").cast("long").alias("item_idx"),
            F.col("label").alias("label"),
            lvl.alias("level"),
            F.col("text").alias("text"),
        ))).alias("its"))
    )
    # guarded fan-out: the groupBy above inherits the upstream shuffle
    # width — at bench scale that can be a handful of partitions for a
    # CPU-heavy Python kernel, but a production table already runs wider
    # than the cluster parallelism, where an unconditional repartition
    # would ADD a shuffle and collapse thousands of partitions into
    # core-count straggler tasks
    par = items.sparkSession.sparkContext.defaultParallelism
    if packed.rdd.getNumPartitions() < par:
        packed = packed.repartition(par)

    def run(batches):
        head_cost, wcost, sep_cost = make_counting(
            bc_spec.value if bc_spec is not None else None)
        for pdf in batches:
            out = {doc_col: [], "chunk_idx": [], "headings": [],
                   "chunk_text": [], "contextualized": [], "n_tokens": []}
            if with_provenance:
                out["doc_items"] = []
            for doc, its in zip(pdf[doc_col], pdf["its"]):
                chunks = scan_doc(its, max_tokens, merge_peers,
                                  head_cost, wcost, sep_cost)
                for k, (path, text, ntok, ids) in enumerate(chunks):
                    ctx = "\n".join(list(path) + [text])
                    out[doc_col].append(doc)
                    out["chunk_idx"].append(k)
                    out["headings"].append(list(path))
                    out["chunk_text"].append(text)
                    out["contextualized"].append(ctx)
                    out["n_tokens"].append(ntok + head_cost(path))
                    if with_provenance:
                        out["doc_items"].append(list(ids))
            yield pd.DataFrame(out)

    schema = (f"{doc_col} {doc_type}, chunk_idx int, "
              "headings array<string>, chunk_text string, "
              "contextualized string, n_tokens int")
    if with_provenance:
        schema += ", doc_items array<bigint>"
    return packed.mapInPandas(run, schema)
