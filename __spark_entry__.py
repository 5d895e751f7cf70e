"""Driver contract for the docling_spark engine.

``entry``      — flagship: full extraction pipeline over transcripts
                 synthesized deterministically from the sf0.001 tables.
``queries``    — one entry per implemented operator family (SURVEY.md §2 +
                 the training-data ops), each runnable at any sf dir.
``oracle_sql`` — exact DuckDB twins. Where extraction runs through the real
                 engine, the payloads are template-built from ``documents``
                 so the expected output is derivable in pure SQL — the
                 oracle validates the engine end-to-end, not a re-port of it.

Column names are aliased identically on both sides; doubles are rounded to
6 (or fewer) decimals before output so cross-engine float noise can't flip
the driver's value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NBSP = " "
EMDASH = "—"
ELLIPSIS = "…"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanned out (guarded, below): the test corpus is one parquet row
    # group, so every downstream per-row compute — JVM regex splits as
    # much as Python kernels — would otherwise run 1-3 tasks wide
    return _fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fan_out(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _fan_out(df: DataFrame) -> DataFrame:
    """Spread CPU-heavy, byte-small extraction input across every core.

    The test corpus arrives as a handful of parquet splits (3 at sf0.1),
    which would pin a 32-core Python-kernel pipeline to 3 tasks — the
    kernel cost is per-row CPU, not bytes, so the scan's byte-balanced
    splits are the wrong granularity (same pinned fan-out rationale as
    jobs/extract_job.py). One round-robin shuffle of kilobyte rows buys
    full parallelism; a production-scale table already carries at least
    cluster-parallelism splits, and the check skips the shuffle there.
    Row contents are untouched, so every oracle stays bit-identical.

    Give it a plain scan: under AQE, ``getNumPartitions`` on a frame
    with an exchange upstream runs that exchange one extra time, and a
    frame built from ``_docs``/``_emb`` is fanned out already.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize a transcripts table from sf0.001 documents
    (each document becomes a short conversation whose turns carry html /
    plain / code payloads built from the document text), run the full
    extraction pipeline, and return the ranked per-turn output."""
    sf_dir = "/root/testdata/sf0.001"
    from docling_spark.operators.extract_ops import extract_turns, with_turn_rank

    tr = _synth_transcripts(spark, sf_dir)
    out = with_turn_rank(extract_turns(tr))
    return out.select(
        "conv_id", "turn_idx", "turn_rank", "role", "status", "format",
        "extracted_text",
    )


def _synth_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → transcripts (conv_id, turn_idx, role, text, tool, ts):
    3 turns per document — user asks (plain), assistant answers (html),
    tool returns (code). Deterministic, derivable in SQL."""
    d = _docs(spark, sf_dir)
    base = d.select(
        F.concat(F.lit("conv"), F.lpad(F.col("doc_id").cast("string"), 8, "0")
                 ).alias("conv_id"),
        F.col("doc_id"),
        F.col("text"),
    )
    user = base.select(
        "conv_id", F.lit(0).alias("turn_idx"), F.lit("user").alias("role"),
        F.col("text"), F.lit("").alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )
    asst = base.select(
        "conv_id", F.lit(1).alias("turn_idx"), F.lit("assistant").alias("role"),
        F.concat(
            F.lit("<html><body><div>boilerplate nav</div><h1>Document "),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"), F.col("text"),
            F.lit("</p><footer>fine print</footer></body></html>"),
        ).alias("text"),
        F.lit("html").alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:07")).alias("ts"),
    )
    tool = base.select(
        "conv_id", F.lit(2).alias("turn_idx"), F.lit("tool").alias("role"),
        F.concat(F.lit('{"doc": '), F.col("doc_id").cast("string"),
                 F.lit(', "status": "ok"}')).alias("text"),
        F.lit("code").alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:14")).alias("ts"),
    )
    return user.unionByName(asst).unionByName(tool)


# ---------------------------------------------------------------------------
# extraction family (engine end-to-end, SQL-derivable expected output)
# ---------------------------------------------------------------------------

def _extract_docs(spark, sf_dir, payload_col, tool: str) -> DataFrame:
    """Build a one-turn transcript per document with the given payload
    expression and run the real extraction operator."""
    from docling_spark.operators.extract_ops import extract_turns

    d = _docs(spark, sf_dir).select(
        F.col("doc_id"),
        payload_col.alias("text"),
    )
    tr = d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.col("text"),
        F.lit(tool).alias("tool"),
    )
    out = extract_turns(tr)
    return out.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        "status",
        "extracted_text",
    )


def q_extract_html_heading(spark, sf_dir):
    payload = F.concat(
        F.lit("<html><body><div>boilerplate nav</div><h1>Document "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), F.col("text"),
        F.lit("</p><footer>fine print</footer></body></html>"),
    )
    return _extract_docs(spark, sf_dir, payload, "html")


ORACLE_HTML_HEADING = """
select doc_id, 'success' as status,
       '# Document ' || doc_id || chr(10) || chr(10)
        || trim(regexp_replace(text, '\\s+', ' ', 'g')) as extracted_text
from documents
"""


def q_extract_html_list_table(spark, sf_dir):
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    w = lambda i: F.element_at(toks, i)  # noqa: E731
    payload = F.concat(
        F.lit("<h1>Doc "), F.col("doc_id").cast("string"), F.lit("</h1>"),
        F.lit("<ul><li>"), w(1), F.lit("</li><li>"), w(2), F.lit("</li></ul>"),
        F.lit("<table><tr><th>k</th><th>v</th></tr><tr><td>"), w(3),
        F.lit("</td><td>"), w(4), F.lit("</td></tr></table>"),
    )
    return _extract_docs(spark, sf_dir, payload, "html")


ORACLE_HTML_LIST_TABLE = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks from documents
)
select doc_id, 'success' as status,
       '# Doc ' || doc_id || chr(10) || chr(10)
        || '- ' || toks[1] || chr(10) || '- ' || toks[2] || chr(10) || chr(10)
        || '| k | v |' || chr(10) || '| - | - |' || chr(10)
        || '| ' || toks[3] || ' | ' || toks[4] || ' |' as extracted_text
from t
"""


def q_extract_html_form(spark, sf_dir):
    """Form/key-value machinery (html_backend.py:2783-4380): semantic-id
    key/marker/value containers resolve to field_region → field_item →
    (marker, field_key, field_value) items; the md serializer renders
    group items as the missing-text marker."""
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    w = lambda i: F.element_at(toks, i)  # noqa: E731
    payload = F.concat(
        F.lit("<h1>Doc "), F.col("doc_id").cast("string"), F.lit("</h1>"),
        F.lit('<div class="form_region">'),
        F.lit('<div><div id="key1_marker">1</div><span id="key1">Name</span>'
              '<span id="key1_value1">'), w(1), F.lit("</span></div>"),
        F.lit('<div><span id="key2">City</span><span id="key2_value1">'),
        w(2), F.lit('</span><span id="key2_value2">'), w(3),
        F.lit("</span></div>"),
        F.lit('<div><span id="key3">Qty</span><input id="key3_value1" '
              'value="'), F.col("doc_id").cast("string"),
        F.lit('"/></div></div>'),
    )
    return _extract_docs(spark, sf_dir, payload, "html")


ORACLE_HTML_FORM = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks from documents
)
select doc_id, 'success' as status,
       '# Doc ' || doc_id || chr(10) || chr(10)
        || '<!-- missing-text -->' || chr(10) || chr(10)
        || '<!-- missing-text -->' || chr(10) || chr(10)
        || '1' || chr(10) || chr(10) || 'Name' || chr(10) || chr(10)
        || toks[1] || chr(10) || chr(10)
        || '<!-- missing-text -->' || chr(10) || chr(10)
        || 'City' || chr(10) || chr(10) || toks[2] || chr(10) || chr(10)
        || toks[3] || chr(10) || chr(10)
        || '<!-- missing-text -->' || chr(10) || chr(10)
        || 'Qty' || chr(10) || chr(10) || doc_id as extracted_text
from t
"""


def q_extract_plain_dirty(spark, sf_dir):
    # every space → NBSP, em-dash + ellipsis appended: the normalization
    # table must map it all back (clean_unicode targets)
    payload = F.concat(
        F.translate(F.col("text"), " ", NBSP), F.lit(EMDASH + ELLIPSIS)
    )
    return _extract_docs(spark, sf_dir, payload, "")


ORACLE_PLAIN_DIRTY = """
select doc_id, 'success' as status,
       trim(regexp_replace(text, '\\s+', ' ', 'g')) || '-...' as extracted_text
from documents
"""


def q_extract_code_passthrough(spark, sf_dir):
    payload = F.concat(F.lit("result = "), F.col("doc_id").cast("string"),
                       F.lit("\nprint(result)"))
    return _extract_docs(spark, sf_dir, payload, "code")


ORACLE_CODE = """
select doc_id, 'success' as status,
       '```' || chr(10) || 'result = ' || doc_id || chr(10) || 'print(result)'
       || chr(10) || '```' as extracted_text
from documents
"""


def q_extract_csv_table(spark, sf_dir):
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    payload = F.concat(
        F.lit("k;v\n"),
        F.element_at(toks, 1), F.lit(";"), F.element_at(toks, 2), F.lit("\n"),
        F.element_at(toks, 3), F.lit(";"), F.element_at(toks, 4),
    )
    return _extract_docs(spark, sf_dir, payload, "csv")


ORACLE_CSV = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks from documents
)
select doc_id, 'success' as status,
       '| k | v |' || chr(10) || '| - | - |' || chr(10)
        || '| ' || toks[1] || ' | ' || toks[2] || ' |' || chr(10)
        || '| ' || toks[3] || ' | ' || toks[4] || ' |' as extracted_text
from t
"""


def q_extract_md_doc(spark, sf_dir):
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    payload = F.concat(
        F.lit("# Doc "), F.col("doc_id").cast("string"), F.lit("\n\n"),
        F.col("text"), F.lit("\n\n- "), F.element_at(toks, 1),
        F.lit("\n- "), F.element_at(toks, 2), F.lit("\n"),
    )
    return _extract_docs(spark, sf_dir, payload, "md")


ORACLE_MD = """
with t as (
  select doc_id, text, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks from documents
)
select doc_id, 'success' as status,
       '# Doc ' || doc_id || chr(10) || chr(10)
        || trim(regexp_replace(text, '\\s+', ' ', 'g')) || chr(10) || chr(10)
        || '- ' || toks[1] || chr(10) || '- ' || toks[2] as extracted_text
from t
"""


def q_extract_status_counts(spark, sf_dir):
    """Failure containment end-to-end: every 20th document carries a broken
    pdfish payload → failure rows, everything else succeeds."""
    payload = F.when(
        F.col("doc_id") % 20 == 0, F.lit('{"page_no": 1, "bbox": [broken')
    ).otherwise(F.concat(F.lit("<h1>T</h1><p>"), F.col("text"), F.lit("</p>")))
    tool = F.when(F.col("doc_id") % 20 == 0, F.lit("pdfish")).otherwise(F.lit("html"))
    from docling_spark.operators.extract_ops import extract_turns

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"), F.lit("user").alias("role"),
        F.lit(None).cast("timestamp").alias("ts"),
        payload.alias("text"), tool.alias("tool"),
    )
    return (
        extract_turns(d).groupBy("status")
        .agg(F.count("*").alias("n"))
    )


ORACLE_STATUS_COUNTS = """
select case when doc_id % 20 = 0 then 'failure' else 'success' end as status,
       count(*) as n
from documents group by 1
"""


def q_extract_format_policy(spark, sf_dir):
    """Allowed-format policy gate (document_converter.py:738-752): the
    corpus alternates html/markdown payloads but only html is allowed —
    markdown rows come back SKIPPED with a POLICY-category error, never
    attempted; html rows extract normally."""
    from docling_spark.operators.extract_ops import extract_turns

    is_html = F.col("doc_id") % 2 == 0
    payload = F.when(is_html, F.concat(
        F.lit("<h1>Doc "), F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), F.col("text"), F.lit("</p>"),
    )).otherwise(F.concat(
        F.lit("# Doc "), F.col("doc_id").cast("string"),
        F.lit("\n\n"), F.col("text"),
    ))
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"), F.lit("user").alias("role"),
        F.lit(None).cast("timestamp").alias("ts"),
        payload.alias("text"),
        F.when(is_html, F.lit("html")).otherwise(F.lit("md")).alias("tool"),
    )
    out = extract_turns(d, allowed_formats=("html",))
    return out.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        "status",
        F.col("format").alias("fmt"),
        # F.get is out-of-bounds-null (ANSI-safe; success rows have no errors)
        F.get("errors", 0)["category"].alias("error_category"),
    )


ORACLE_FORMAT_POLICY = """
select doc_id,
       case when doc_id % 2 = 0 then 'success' else 'skipped' end as status,
       case when doc_id % 2 = 0 then 'html' else 'md' end as fmt,
       case when doc_id % 2 = 0 then null else 'policy' end as error_category
from documents
"""


def q_turn_ordering(spark, sf_dir):
    """Stable (conv_id, turn_idx) ordering via window rank after an
    adversarial shuffle — the north rule's ordering invariant."""
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir).select(
        (F.col("doc_id") % 50).cast("string").alias("conv_id"),
        (F.col("doc_id") / 50).cast("int").alias("turn_idx"),
    ).repartition(23)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return d.select(
        "conv_id", "turn_idx",
        (F.row_number().over(w) - 1).alias("turn_rank"),
    )


ORACLE_TURN_ORDERING = """
select cast(doc_id % 50 as varchar) as conv_id,
       cast(doc_id // 50 as int) as turn_idx,
       cast(row_number() over (partition by doc_id % 50 order by doc_id // 50) - 1
            as int) as turn_rank
from documents
"""


def q_training_pairs(spark, sf_dir):
    """The canonical transcript training-data op: (prompt, response) pairs
    from consecutive user→assistant turns — a lead() window over the
    extracted conversation, no self-join."""
    from pyspark.sql.window import Window

    from docling_spark.operators.extract_ops import extract_turns

    ext = extract_turns(_synth_transcripts(spark, sf_dir))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    paired = ext.select(
        "conv_id", "turn_idx", "role", "extracted_text",
        F.lead("role").over(w).alias("next_role"),
        F.lead("extracted_text").over(w).alias("next_text"),
    )
    return (
        paired.filter((F.col("role") == "user")
                      & (F.col("next_role") == "assistant"))
        .select(
            "conv_id",
            F.col("extracted_text").alias("prompt"),
            F.col("next_text").alias("response"),
        )
    )


ORACLE_TRAINING_PAIRS = """
with t as (
  select doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) as norm
  from documents
)
select 'conv' || lpad(doc_id::varchar, 8, '0') as conv_id,
       norm as prompt,
       '# Document ' || doc_id || chr(10) || chr(10) || norm as response
from t
"""


def q_turn_context(spark, sf_dir):
    """Per-turn conversational context via lag/lead windows: neighbor
    roles and previous extracted length — the feature columns a
    context-window dataset builder consumes."""
    from pyspark.sql.window import Window

    from docling_spark.operators.extract_ops import extract_turns

    ext = extract_turns(_synth_transcripts(spark, sf_dir))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return ext.select(
        "conv_id", "turn_idx", "role",
        F.lag("role").over(w).alias("prev_role"),
        F.lead("role").over(w).alias("next_role"),
        F.coalesce(F.length(F.lag("extracted_text").over(w)), F.lit(-1))
        .alias("prev_len"),
    )


ORACLE_TURN_CONTEXT = """
with t as (
  select doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) as norm
  from documents
)
select 'conv' || lpad(doc_id::varchar, 8, '0') as conv_id, u.*
from t,
lateral (
  select * from (values
    (0, 'user', cast(null as varchar), 'assistant', -1),
    (1, 'assistant', 'user', 'tool', length(norm)),
    (2, 'tool', 'assistant', cast(null as varchar),
     length('# Document ' || doc_id) + 2 + length(norm))
  ) v(turn_idx, role, prev_role, next_role, prev_len)
) u
"""


# ---------------------------------------------------------------------------
# text analysis family
# ---------------------------------------------------------------------------

def q_doc_stats(spark, sf_dir):
    from docling_spark.operators.textstats import doc_stats

    return doc_stats(_docs(spark, sf_dir))


ORACLE_DOC_STATS = """
with t as (
  select doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') ltoks
  from documents
),
s as (
  select doc_id, text, toks,
    case when trim(text) = '' then 0 else len(toks) end as n_tokens,
    length(regexp_replace(trim(text), '\\s+', '', 'g')) as n_nospace,
    len(list_filter(ltoks, x -> x in ('the','and','of','to','a','in','is','it','that'))) as hits_en,
    len(list_filter(ltoks, x -> x in ('der','die','und','das','ist','nicht','ein','zu'))) as hits_de,
    len(list_filter(ltoks, x -> x in ('le','la','et','les','des','est','un','une'))) as hits_fr,
    len(list_filter(ltoks, x -> x in ('el','la','los','las','es','un','una','que'))) as hits_es
  from t
)
select doc_id,
  n_tokens,
  round(case when n_tokens > 0 then n_nospace::double / n_tokens else 0.0 end, 6)
    as avg_token_len,
  round(case when n_tokens > 0 then hits_en::double / n_tokens else 0.0 end, 6)
    as stopword_ratio,
  round((
      least(n_tokens / 20.0, 1.0)
      + least(case when n_tokens > 0 then hits_en::double / n_tokens else 0.0 end * 5.0, 1.0)
      + case when (case when n_tokens > 0 then n_nospace::double / n_tokens else 0.0 end)
              between 2.0 and 12.0 then 1.0 else 0.0 end
    ) / 3.0, 6) as quality,
  case
    when hits_en > 0 and hits_en = greatest(hits_en, hits_de, hits_fr, hits_es) then 'en'
    when hits_de > 0 and hits_de = greatest(hits_en, hits_de, hits_fr, hits_es) then 'de'
    when hits_fr > 0 and hits_fr = greatest(hits_en, hits_de, hits_fr, hits_es) then 'fr'
    when hits_es > 0 and hits_es = greatest(hits_en, hits_de, hits_fr, hits_es) then 'es'
    else 'und' end as lang_pred,
  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) as fingerprint
from s
"""


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """NOT fanned out (r4): the query's first operator is already a
    groupBy — its own exchange redistributes, so the _fan_out round-robin
    shuffle in front of it just moves the full text column twice (the
    r2→r3 bench drift on this row: 0.31→0.61 s, fan-out alone measured
    +0.25 s). The map side (md5 over the scan's splits) is byte-bound,
    exactly what the scan's byte-balanced splits are right for."""
    from docling_spark.operators.dedup import exact_dedup

    return exact_dedup(_read(spark, sf_dir, "documents"))


ORACLE_DEDUP_EXACT = """
select md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) as fp,
       min(doc_id) as keep_doc_id, count(*) as n_dupes
from documents group by 1
"""

_SHINGLE_RAW_SQL = """
  select doc_id,
         unnest(list_distinct(case when len(toks) >= 3
           then list_transform(generate_series(1, len(toks) - 2),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
           else [array_to_string(toks, ' ')] end)) as shingle
  from (select doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') toks
        from documents)
"""

# shingles leave the operator 60-bit-hashed (dedup.py shingles); the oracle
# applies the identical md5-prefix hash
_SHINGLE_SQL = f"""
  select distinct doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::bigint as shingle
  from ({_SHINGLE_RAW_SQL})
"""


def _mh_sql(num_hashes: int = 8) -> str:
    """DuckDB twin of dedup.mh_consts minhash family: exact 64-bit-safe
    arithmetic over the hashed shingle."""
    from docling_spark.operators.dedup import MH_H_MOD, MH_P, mh_consts

    return ", ".join(
        f"min(({a} * (shingle % {MH_H_MOD}) + {b}) % {MH_P}) as mh_{j}"
        for j, (a, b) in enumerate(mh_consts(num_hashes))
    )


def _bands_sql(sig_cte: str) -> str:
    return " union all ".join(
        f"select doc_id, {b} as band_id, "
        f"md5(mh_{2 * b} || ',' || mh_{2 * b + 1}) as bucket from {sig_cte}"
        for b in range(4)
    )


def _capped_bands_sql(sig_cte: str, max_bucket: int = 64) -> str:
    """DuckDB twin of dedup.cap_buckets: keep the max_bucket smallest
    doc_ids per (band_id, bucket) so the oracle reproduces the capped
    candidate set bit-for-bit."""
    return f"""select doc_id, band_id, bucket from (
    select doc_id, band_id, bucket,
           row_number() over (partition by band_id, bucket
                              order by doc_id) as _rn
    from ({_bands_sql(sig_cte)})
  ) where _rn <= {max_bucket}"""


def q_minhash_signatures(spark, sf_dir):
    from docling_spark.operators.dedup import minhash_signatures, shingles

    return minhash_signatures(shingles(_docs(spark, sf_dir)), num_hashes=8)


ORACLE_MINHASH = f"""
with sh as ({_SHINGLE_SQL})
select doc_id,
  {_mh_sql(8)}
from sh group by doc_id
"""


def q_dedup_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard GATED on LSH candidates — the only shape that
    survives a hot shingle at 100 TB (the unguarded all-co-shingled-pairs
    variant is m² in a shingle's doc frequency; it survives only as the
    recall-test oracle in tests/test_training_ops.py)."""
    from docling_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    sh = shingles(_docs(spark, sf_dir)).persist()
    # persist cands too: jaccard_pairs references the candidate plan three
    # times (in_play union x2 + final join); without the persist Spark's
    # ReuseExchange cannot dedup the LSH chain across those references
    # once a round-robin fan-out exchange sits in its lineage
    cands = lsh_candidate_pairs(minhash_signatures(sh, 8), 8,
                                band_size=2).persist()
    return jaccard_pairs(sh, threshold=0.2, candidates=cands)


ORACLE_JACCARD = f"""
with sh as ({_SHINGLE_SQL}),
sigs as (
  select doc_id,
    {_mh_sql(8)}
  from sh group by doc_id
),
bands as ({_capped_bands_sql("sigs")}),
cands as (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from bands a join bands b
    on a.band_id = b.band_id and a.bucket = b.bucket and a.doc_id < b.doc_id
),
sizes as (select doc_id, count(*) sz from sh group by 1),
inter as (
  select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as inter
  from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2
)
select i.doc_a, i.doc_b,
       round(inter::double / (sa.sz + sb.sz - inter), 6) as jaccard
from inter i
join cands c on c.doc_a = i.doc_a and c.doc_b = i.doc_b
join sizes sa on sa.doc_id = i.doc_a
join sizes sb on sb.doc_id = i.doc_b
where inter::double / (sa.sz + sb.sz - inter) >= 0.2
"""


def q_dedup_minhash_lsh(spark, sf_dir):
    from docling_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    # persist: the shingle explode feeds BOTH the signature agg and the
    # candidate-confined Jaccard — without it the most expensive stage of
    # the whole bench ran twice (r1 VERDICT #6)
    sh = shingles(_docs(spark, sf_dir)).persist()
    # cands persisted for the same three-reference reason as q_dedup_jaccard
    cands = lsh_candidate_pairs(minhash_signatures(sh, 8), 8,
                                band_size=2).persist()
    return jaccard_pairs(sh, threshold=0.1, candidates=cands)


ORACLE_MINHASH_LSH = f"""
with sh as ({_SHINGLE_SQL}),
sigs as (
  select doc_id,
    {_mh_sql(8)}
  from sh group by doc_id
),
bands as ({_capped_bands_sql("sigs")}),
cands as (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from bands a join bands b
    on a.band_id = b.band_id and a.bucket = b.bucket and a.doc_id < b.doc_id
),
sizes as (select doc_id, count(*) sz from sh group by 1),
inter as (
  select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as inter
  from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2
)
select i.doc_a, i.doc_b,
       round(inter::double / (sa.sz + sb.sz - inter), 6) as jaccard
from inter i
join cands c on c.doc_a = i.doc_a and c.doc_b = i.doc_b
join sizes sa on sa.doc_id = i.doc_a
join sizes sb on sb.doc_id = i.doc_b
where inter::double / (sa.sz + sb.sz - inter) >= 0.1
"""


def _shingle_sql(table: str) -> str:
    """_SHINGLE_SQL retargeted at another relation (e.g. a split CTE)."""
    return _SHINGLE_SQL.replace("from documents)", f"from {table})")


def q_dedup_edit_distance(spark, sf_dir):
    """Exact Levenshtein refinement over the LSH candidate set — the
    second-stage screen that catches small in-place edits Jaccard dilutes.
    Candidate gate keeps the O(len²) kernel linear in corpus size."""
    from docling_spark.operators.dedup import (
        edit_distance_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    docs = _docs(spark, sf_dir)
    cands = lsh_candidate_pairs(
        minhash_signatures(shingles(docs), 8), 8, band_size=2)
    return edit_distance_pairs(docs, cands)


ORACLE_EDIT_DISTANCE = f"""
with sh as ({_SHINGLE_SQL}),
sigs as (
  select doc_id,
    {_mh_sql(8)}
  from sh group by doc_id
),
bands as ({_capped_bands_sql("sigs")}),
cands as (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from bands a join bands b
    on a.band_id = b.band_id and a.bucket = b.bucket and a.doc_id < b.doc_id
),
txt as (
  select doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) as t
  from documents
)
select doc_a, doc_b,
       levenshtein(ta.t, tb.t) as edit_dist,
       round(1.0 - levenshtein(ta.t, tb.t)::double
             / greatest(length(ta.t), length(tb.t), 1), 6) as edit_sim
from cands
join txt ta on ta.doc_id = doc_a
join txt tb on tb.doc_id = doc_b
"""


def q_incremental_dedup(spark, sf_dir):
    """New-batch dedup against a persisted corpus signature index — the
    continuous-ingestion shape: the corpus is represented ONLY by its
    minhash signature table (K longs/doc, written when each earlier batch
    was accepted); the incoming batch alone is shingled. Candidates are a
    (band_id, bucket) equi-join of batch bands vs index bands; the verdict
    screen is signature agreement. Corpus/batch split is deterministic
    (doc_id % 10) so the oracle reproduces it."""
    from docling_spark.operators.dedup import (
        incremental_dedup,
        minhash_signatures,
        shingles,
    )

    docs = _docs(spark, sf_dir)
    # stands in for the persisted index table a real deployment would read
    index_sigs = minhash_signatures(
        shingles(docs.filter(F.col("doc_id") % 10 < 7)), 8)
    batch_sigs = minhash_signatures(
        shingles(docs.filter(F.col("doc_id") % 10 >= 7)), 8)
    return incremental_dedup(batch_sigs, index_sigs, 8, 2, threshold=0.5)


ORACLE_INCREMENTAL_DEDUP = f"""
with corpus_docs as (select * from documents where doc_id % 10 < 7),
batch_docs as (select * from documents where doc_id % 10 >= 7),
sh_c as ({_shingle_sql("corpus_docs")}),
sh_b as ({_shingle_sql("batch_docs")}),
sig_c as (select doc_id, {_mh_sql(8)} from sh_c group by doc_id),
sig_b as (select doc_id, {_mh_sql(8)} from sh_b group by doc_id),
bands_c as ({_capped_bands_sql("sig_c")}),
bands_b as ({_capped_bands_sql("sig_b")}),
cand_ci as (
  select distinct b.doc_id as bdoc, c.doc_id as cdoc
  from bands_b b join bands_c c
    on b.band_id = c.band_id and b.bucket = c.bucket
),
corpus_hit as (
  select bdoc, min(cdoc) as corpus_dup_of
  from cand_ci
  join sig_b sb on sb.doc_id = bdoc
  join sig_c sc on sc.doc_id = cdoc
  where ({" + ".join(
    f"case when sb.mh_{j} = sc.mh_{j} then 1 else 0 end" for j in range(8)
  )}) / 8.0 >= 0.5
  group by 1
),
cand_bb as (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from bands_b a join bands_b b
    on a.band_id = b.band_id and a.bucket = b.bucket and a.doc_id < b.doc_id
),
pass_bb as (
  select doc_a, doc_b
  from cand_bb
  join sig_b sa on sa.doc_id = doc_a
  join sig_b s2 on s2.doc_id = doc_b
  where ({" + ".join(
    f"case when sa.mh_{j} = s2.mh_{j} then 1 else 0 end" for j in range(8)
  )}) / 8.0 >= 0.5
),
batch_hit as (
  select doc_b as bdoc, min(doc_a) as batch_dup_of
  from pass_bb
  where doc_a not in (select bdoc from corpus_hit)
  group by 1
)
select s.doc_id,
  case when ch.bdoc is not null then 'dup_corpus'
       when bh.bdoc is not null then 'dup_batch'
       else 'new' end as verdict,
  coalesce(ch.corpus_dup_of, bh.batch_dup_of, s.doc_id) as dup_of
from sig_b s
left join corpus_hit ch on ch.bdoc = s.doc_id
left join batch_hit bh on bh.bdoc = s.doc_id
"""


def q_lsh_bucket_overflow(spark, sf_dir):
    """Visibility companion to the LSH bucket cap: which (band, bucket)
    populations exceed the cap, and how many docs the cap drops — the
    minhash banding plus the one ``dedup.bucket_overflow`` count that the
    simhash and embedding companions share. max_bucket is set to 2 here
    so the sf-size corpus exercises real overflow rows; production pairs
    this (at the production cap) with every capped run."""
    from docling_spark.operators.dedup import (
        lsh_bucket_overflow,
        minhash_signatures,
        shingles,
    )

    sigs = minhash_signatures(shingles(_docs(spark, sf_dir)), 8)
    return lsh_bucket_overflow(sigs, 8, band_size=2, max_bucket=2)


ORACLE_LSH_OVERFLOW = f"""
with sh as ({_SHINGLE_SQL}),
sigs as (
  select doc_id,
    {_mh_sql(8)}
  from sh group by doc_id
),
bands as ({_bands_sql("sigs")})
select band_id, bucket, count(*) as n_docs, count(*) - 2 as n_dropped
from bands group by 1, 2 having count(*) > 2
"""


def q_dedup_components(spark, sf_dir):
    """Duplicate clusters: connected components (iterative min-label
    propagation — the distributed UnionFind) over LSH-gated n-gram
    Jaccard pairs (same hot-shingle-immune gate as q_dedup_jaccard)."""
    from docling_spark.operators.dedup import (
        connected_components,
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    sh = shingles(_docs(spark, sf_dir)).persist()
    # cands persisted for the same three-reference reason as q_dedup_jaccard
    cands = lsh_candidate_pairs(minhash_signatures(sh, 8), 8,
                                band_size=2).persist()
    return connected_components(jaccard_pairs(sh, threshold=0.2,
                                              candidates=cands))


ORACLE_DEDUP_COMPONENTS = f"""
with sh as ({_SHINGLE_SQL}),
sigs as (
  select doc_id,
    {_mh_sql(8)}
  from sh group by doc_id
),
bands as ({_capped_bands_sql("sigs")}),
cands as (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from bands a join bands b
    on a.band_id = b.band_id and a.bucket = b.bucket and a.doc_id < b.doc_id
),
sizes as (select doc_id, count(*) sz from sh group by 1),
inter as (
  select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as inter
  from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2
),
p as (
  select i.doc_a, i.doc_b from inter i
  join cands c on c.doc_a = i.doc_a and c.doc_b = i.doc_b
  join sizes sa on sa.doc_id = i.doc_a
  join sizes sb on sb.doc_id = i.doc_b
  where inter::double / (sa.sz + sb.sz - inter) >= 0.2
),
edges as (
  select doc_a as src, doc_b as dst from p
  union
  select doc_b, doc_a from p
),
reach as (
  with recursive r(src, dst) as (
    select src, dst from edges
    union
    select r.src, e.dst from r join edges e on r.dst = e.src
  )
  select * from r
)
select src as doc_id,
       least(src, min(dst)) as component
from reach group by src
"""


def q_minhash_jaccard_est(spark, sf_dir):
    """Signature-agreement Jaccard estimate over LSH candidate pairs —
    the cheap screen that precedes exact jaccard at corpus scale."""
    from docling_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_jaccard_estimate,
        minhash_signatures,
        shingles,
    )

    sigs = minhash_signatures(shingles(_docs(spark, sf_dir)), 8)
    cands = lsh_candidate_pairs(sigs, 8, band_size=2)
    return minhash_jaccard_estimate(sigs, cands, 8)


ORACLE_MINHASH_EST = f"""
with sh as ({_SHINGLE_SQL}),
sigs as (
  select doc_id,
    {_mh_sql(8)}
  from sh group by doc_id
),
bands as ({_capped_bands_sql("sigs")}),
cands as (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from bands a join bands b
    on a.band_id = b.band_id and a.bucket = b.bucket and a.doc_id < b.doc_id
)
select c.doc_a, c.doc_b,
       round(({" + ".join(
         f"case when sa.mh_{j} = sb.mh_{j} then 1 else 0 end" for j in range(8)
       )}) / 8.0, 6) as jaccard_est
from cands c
join sigs sa on sa.doc_id = c.doc_a
join sigs sb on sb.doc_id = c.doc_b
"""


def q_simhash(spark, sf_dir):
    """60-bit signatures (the full hash60 width — widened from 32 in r4
    so the near-pair chunks span 15 bits each, see q_simhash_near_pairs)."""
    from docling_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir), bits=60)


def _simhash_sig_sql(bits: int = 60) -> str:
    """DuckDB CTE chain ending in sh(doc_id, simhash) — the twin of
    dedup.simhash at the given signature width."""
    return f"""toks as (
  select doc_id,
         unnest(list_distinct(
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
         )) as tok
  from documents
),
h as (select doc_id, ('0x' || substr(md5(tok), 1, 15))::bigint as h from toks),
votes as (
  select doc_id, b,
         sum(case when (h >> b) & 1 = 1 then 1 else -1 end) as v
  from h, generate_series(0, {bits - 1}) t(b)
  group by 1, 2
),
sh as (
  select doc_id,
         sum(case when v > 0 then (1::bigint << b) else 0 end)::bigint as simhash
  from votes group by 1
)"""


ORACLE_SIMHASH = f"""
with {_simhash_sig_sql(60)}
select doc_id, simhash from sh
"""


# ---------------------------------------------------------------------------
# embedding similarity family
# ---------------------------------------------------------------------------

_PAIR_BANDS = 6
_PAIR_PPB = 3


def q_embed_cosine_pairs(spark, sf_dir):
    """Near-dup embedding pairs, LSH-gated (r1 shipped the exact n²
    BroadcastNestedLoopJoin here — the textbook 100 TB scale-killer; the
    n² variant survives only as the recall test oracle,
    tests/test_round2_fixes.py::test_cosine_pairs_lsh_subset_and_recall).
    Buckets are capped at their 64 smallest-id representatives before
    each bucket's pairs are scored (r3's minhash hot-bucket bound
    extended to the embedding side — m identical embeddings collide in
    EVERY band, so an uncapped bucket was the last m² exposure in the
    dedup surface). The oracle below expresses the
    SAME banded gating AND the same cap with literal plane constants, so
    the comparison is exact, not recall-fuzzy."""
    from docling_spark.operators.similarity import cosine_pairs_lsh

    return cosine_pairs_lsh(
        _emb(spark, sf_dir), threshold=0.45,
        n_bands=_PAIR_BANDS, planes_per_band=_PAIR_PPB, dim=_ANN_DIM,
        max_bucket=64,
    )


def _banded_emb_sql() -> str:
    """DuckDB CTE body: one row per (vec_id, band, bucket-key) under the
    same literal hyperplanes banded_lsh_buckets uses."""
    from docling_spark.operators.similarity import _plane

    band_keys = []
    for band in range(_PAIR_BANDS):
        bits = []
        for i in range(_PAIR_PPB):
            consts = ", ".join(
                repr(v) for v in _plane(_ANN_DIM, band * _PAIR_PPB + i)
            )
            bits.append(
                f"case when list_dot_product(embedding::double[], [{consts}]) > 0 "
                f"then {2 ** i} else 0 end"
            )
        band_keys.append(f"cast({' + '.join(bits)} as bigint) as k{band}")
    keys = ",\n         ".join(band_keys)
    arms = "\n  union all\n".join(
        f"  select vec_id, {band} as band, k{band} as k from b"
        for band in range(_PAIR_BANDS)
    )
    return f"""b as (
  select vec_id,
         {keys}
  from embeddings
),
banded as (
{arms}
)"""


def _cosine_pairs_oracle(max_bucket: int = 64) -> str:
    return f"""
with {_banded_emb_sql()},
capped as (
  select vec_id, band, k from (
    select vec_id, band, k,
           row_number() over (partition by band, k order by vec_id) as _rn
    from banded
  ) where _rn <= {max_bucket}
),
cand as (
  select distinct a.vec_id as id_a, c.vec_id as id_b
  from capped a join capped c
    on a.band = c.band and a.k = c.k and a.vec_id < c.vec_id
)
select cand.id_a, cand.id_b,
       round(list_cosine_similarity(ea.embedding::double[],
                                    eb.embedding::double[]), 6) as cos
from cand
join embeddings ea on ea.vec_id = cand.id_a
join embeddings eb on eb.vec_id = cand.id_b
where round(list_cosine_similarity(ea.embedding::double[],
                                   eb.embedding::double[]), 6) >= 0.45
"""


def q_embed_bucket_overflow(spark, sf_dir):
    """Visibility companion to the embedding bucket cap: which (band,
    bucket) populations exceed the cap and how many vectors the cap
    drops. max_bucket=2 here so the sf-size corpus exercises real
    overflow rows; production pairs this (at the production cap) with
    every capped cosine_pairs_lsh run."""
    from docling_spark.operators.similarity import embedding_bucket_overflow

    return embedding_bucket_overflow(
        _emb(spark, sf_dir), n_bands=_PAIR_BANDS,
        planes_per_band=_PAIR_PPB, dim=_ANN_DIM, max_bucket=2,
    )


def _embed_overflow_oracle(max_bucket: int = 2) -> str:
    return f"""
with {_banded_emb_sql()}
select cast(band as int) as band, k as bucket,
       count(*) as n_vecs, count(*) - {max_bucket} as n_dropped
from banded group by 1, 2 having count(*) > {max_bucket}
"""


def q_embed_quantize(spark, sf_dir):
    """Symmetric per-vector int8 quantization of the embedding table —
    the 4x memory/shuffle/IO reduction feeding ANN at corpus scale
    (operators/similarity.quantize_embeddings; scale + int codes, all
    JVM codegen, no shuffle). qvec hashes exactly against the oracle's
    identical arithmetic."""
    from docling_spark.operators.similarity import quantize_embeddings
    from pyspark.sql import functions as F

    q = quantize_embeddings(_emb(spark, sf_dir))
    # hash the code array into one comparable column (the driver compare
    # is column-wise scalar)
    return q.select(
        "vec_id", "scale",
        F.md5(F.concat_ws(",", F.col("qvec"))).alias("qhash"))


ORACLE_EMBED_QUANTIZE = """
with base as (
  select vec_id, embedding::double[] as v,
         list_max(list_transform(embedding::double[], x -> abs(x))) as amax
  from embeddings
)
select vec_id,
       round(case when amax > 0 then amax / 127.0 else 0 end, 9) as scale,
       md5(list_aggregate(list_transform(
             case when amax > 0
                  then list_transform(v, x -> cast(round(x * 127.0 / amax) as int))
                  else list_transform(v, x -> 0) end,
             x -> cast(x as varchar)), 'string_agg', ',')) as qhash
from base
"""


def q_quantized_knn(spark, sf_dir):
    """Brute-force neighbors over the QUANTIZED codes (cosine is
    scale-invariant, so scoring runs on int8 codes directly — the scan
    reads 4x less). Same margin-safe set semantics as embed_knn_of_zero,
    query = vec 0's own codes."""
    from docling_spark.operators.similarity import (
        cosine, quantize_embeddings,
    )
    from pyspark.sql import functions as F

    q = quantize_embeddings(_emb(spark, sf_dir))
    codes = F.transform(F.col("qvec"), lambda x: x.cast("double"))
    qv = q.filter(F.col("vec_id") == 0).select(
        F.transform(F.col("qvec"),
                    lambda x: x.cast("double")).alias("qv"))
    return (
        q.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id",
                F.round(cosine(codes, F.col("qv")), 6).alias("score"))
        .filter(F.col("score") >= 0.28)
    )


ORACLE_QUANTIZED_KNN = """
with q as (
  select vec_id,
         case when list_max(list_transform(embedding::double[], x -> abs(x))) > 0
              then list_transform(embedding::double[],
                     x -> cast(cast(round(x * 127.0 /
                       list_max(list_transform(embedding::double[], y -> abs(y)))) as int) as double))
              else list_transform(embedding::double[], x -> 0.0) end as codes
  from embeddings
)
select b.vec_id,
       round(list_cosine_similarity(b.codes, a.codes), 6) as score
from q b, (select codes from q where vec_id = 0) a
where b.vec_id != 0
  and round(list_cosine_similarity(b.codes, a.codes), 6) >= 0.28
"""


def q_embed_knn_of_zero(spark, sf_dir):
    """Neighbors of vec_id 0 above a margin-safe threshold (set semantics —
    no top-k boundary ties across engines)."""
    from docling_spark.operators.similarity import cosine

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding").cast("array<double>"),
                           F.col("qv")), 6).alias("score"),
        )
        .filter(F.col("score") >= 0.28)
    )


ORACLE_KNN_ZERO = """
select b.vec_id,
       round(list_cosine_similarity(b.embedding::double[], a.embedding::double[]), 6) as score
from embeddings b, (select embedding from embeddings where vec_id = 0) a
where b.vec_id != 0
  and round(list_cosine_similarity(b.embedding::double[], a.embedding::double[]), 6) >= 0.28
"""


# ---------------------------------------------------------------------------
# relational family (SURVEY §2.c/d/e/f operator classes)
# ---------------------------------------------------------------------------

def q_agg_pricing_summary(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_PRICING = """
select l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) as sum_qty,
       round(sum(l_extendedprice), 4) as sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) as sum_disc_price,
       round(avg(l_quantity), 4) as avg_qty,
       count(*) as count_order
from lineitem
where l_shipdate <= '1998-09-02'
group by l_returnflag, l_linestatus
"""


def q_window_order_rank(spark, sf_dir):
    from pyspark.sql.window import Window

    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey", "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
    )


ORACLE_WINDOW_RANK = """
select o_custkey, o_orderkey,
       cast(row_number() over (partition by o_custkey
                               order by o_orderdate, o_orderkey) as int) as order_seq
from orders
"""


def q_anti_join_no_orders(spark, sf_dir):
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


ORACLE_ANTI_JOIN = """
select c_custkey, c_mktsegment from customer
where c_custkey not in (select o_custkey from orders where o_totalprice > 300000)
"""


def q_broadcast_brand_revenue(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    p = _read(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


ORACLE_BRAND_REVENUE = """
select p_brand,
       round(sum(l_extendedprice * (1 - l_discount)), 4) as revenue,
       count(*) as n_items
from lineitem join part on l_partkey = p_partkey
group by p_brand
"""


def q_percentile_confidence(spark, sf_dir):
    """Confidence-aggregation analog: mean + exact 10% quantile per group
    (standard_pdf_pipeline.py:1101-1129 nanmean/nanquantile)."""
    o = _read(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.1)), 4).alias("p10_price"),
        F.count("*").alias("n"),
    )


ORACLE_PERCENTILE = """
select o_orderpriority,
       round(avg(o_totalprice), 4) as avg_price,
       round(quantile_cont(o_totalprice, 0.1), 4) as p10_price,
       count(*) as n
from orders group by 1
"""


def q_asof_join(spark, sf_dir):
    """Backward as-of join: every click event picks up the most recent
    view (ts <= click ts, same user) — expressed WITHOUT a range join:
    union both sides tagged, ONE shuffle on user_id, and a
    last(ignorenulls) running window carries the latest view forward.
    No join operator in the plan; same cost shape as sessionize."""
    from docling_spark.operators.relational import asof_join

    _utc(spark)
    e = _read(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts")
    views = e.where(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts",
        F.round("value", 4).alias("view_value"))
    j = asof_join(clicks, views, on="user_id", ts="ts", seq="event_id",
                  right_cols=("view_value",), suffix="_view")
    return j.select(
        "user_id", "click_id",
        F.unix_timestamp("ts").alias("click_ts"),
        F.unix_timestamp("ts_view").alias("view_ts"),
        "view_value_view",
    ).withColumnRenamed("view_value_view", "view_value")


ORACLE_ASOF_JOIN = """
with u as (
  select user_id, ts, event_id, 0 as side,
         case when event_type = 'view' then round(value, 4) end as vval
  from events where event_type = 'view'
  union all
  select user_id, ts, event_id, 1 as side, null
  from events where event_type = 'click'
),
m as (
  select *,
         last_value(case when side = 0 then vval end ignore nulls)
           over w as view_value,
         last_value(case when side = 0 then ts end ignore nulls)
           over w as view_ts
  from u
  window w as (partition by user_id order by ts, side, event_id
               rows between unbounded preceding and current row)
)
select user_id, event_id as click_id,
       floor(epoch(ts))::bigint as click_ts,
       floor(epoch(view_ts))::bigint as view_ts,
       view_value
from m where side = 1
"""


def q_interval_join(spark, sf_dir):
    """Point-in-interval join: clicks land in 1-hour windows opened by
    views of the same user. The naive BETWEEN theta-join degenerates to a
    nested loop; this is the bucketed re-expression (quantize → explode
    intervals over covered buckets → equi-join → exact refine) — hash
    shuffles only, replication factor 2."""
    from docling_spark.operators.relational import interval_join

    _utc(spark)
    e = _read(spark, sf_dir, "events")
    views = e.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"))
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts")
    j = interval_join(clicks, views, on="user_id", ts="ts",
                      start="start_ts", end="end_ts", bucket_s=3600)
    return j.select(
        "user_id", "click_id", "view_id",
        F.unix_timestamp("ts").alias("click_ts"))


ORACLE_INTERVAL_JOIN = """
select c.user_id, c.event_id as click_id, v.event_id as view_id,
       floor(epoch(c.ts))::bigint as click_ts
from events c
join events v
  on v.user_id = c.user_id
 and c.ts between v.ts and v.ts + interval 1 hour
where c.event_type = 'click' and v.event_type = 'view'
"""


def q_salted_join(spark, sf_dir):
    """Skew-proof salted join: events (150 users, Zipf-ish hot keys) ×
    customer dim on user_id = c_custkey, forced down the shuffle path
    (shuffle_hash hint) to demonstrate the salt spreading hot keys across
    reducers. Values identical to the plain equi-join — the oracle IS the
    plain join."""
    from docling_spark.operators.relational import salted_join

    e = _read(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round("value", 4).alias("value"))
    c = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_name").hint("shuffle_hash")
    j = salted_join(e, c, on_big="user_id", on_small="c_custkey",
                    n_salts=16)
    return j.select("event_id", "user_id", "c_name", "value")


ORACLE_SALTED_JOIN = """
select event_id, user_id, c_name, round(value, 4) as value
from events join customer on user_id = c_custkey
"""


def q_sessionize_events(spark, sf_dir):
    """Gap-based sessionization (30 min): the tabular form of the
    reference's run-length list grouping (readingorder_model.py:538-587) —
    lag + cumulative sum over the per-user window."""
    from pyspark.sql.window import Window

    _utc(spark)
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = F.sum(
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).over(w)
    return (
        e.withColumn("session_id", sess)
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.unix_timestamp(F.min("ts")).alias("t_start"),
            F.unix_timestamp(F.max("ts")).alias("t_end"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


ORACLE_SESSIONIZE = """
with g as (
  select user_id, event_id, ts, value,
         case when lag(ts) over w is null
                or floor(epoch(ts))::bigint - floor(epoch(lag(ts) over w))::bigint > 1800
              then 1 else 0 end as brk
  from events
  window w as (partition by user_id order by ts, event_id)
),
s as (
  select *, sum(brk) over (partition by user_id order by ts, event_id
                           rows unbounded preceding) as session_id
  from g
)
select user_id, cast(session_id as bigint) as session_id,
       count(*) as n_events,
       floor(epoch(min(ts)))::bigint as t_start,
       floor(epoch(max(ts)))::bigint as t_end,
       round(sum(value), 4) as total_value
from s group by 1, 2
"""


def q_events_hourly(spark, sf_dir):
    """Tumbling-window aggregation (batch form of the streaming groupBy
    window — identical results under availableNow triggers)."""
    _utc(spark)
    e = _read(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )


ORACLE_EVENTS_HOURLY = """
select floor(epoch(date_trunc('hour', ts)))::bigint as hour_start, event_type,
       count(*) as n, round(sum(value), 4) as total_value
from events group by 1, 2
"""


def q_events_rollup(spark, sf_dir):
    """Hierarchical rollup (day → event_type → grand total) in one pass:
    Spark plans ROLLUP as a single Expand + partial/final hash aggregate —
    one shuffle total regardless of how many grouping levels, vs three
    separate groupBys (three shuffles) a naive union-of-aggs would cost.
    grouping_id() disambiguates rollup-NULLs from data-NULLs."""
    _utc(spark)
    e = _read(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    return (
        e.select(day.alias("day"), "event_type", "value")
        .rollup("day", "event_type")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.coalesce("day", F.lit("ALL")).alias("day"),
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "gid", "n", "total_value",
        )
    )


ORACLE_EVENTS_ROLLUP = """
select coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') as day,
       coalesce(event_type, 'ALL') as event_type,
       cast(grouping(date_trunc('day', ts), event_type) as bigint) as gid,
       count(*) as n, round(sum(value), 4) as total_value
from events
group by rollup(date_trunc('day', ts), event_type)
"""


# ---------------------------------------------------------------------------
# pdfish layout family (reading order / hyphen merge / spans — the
# north-star "PDF layout parse" path, engine end-to-end)
# ---------------------------------------------------------------------------

def _tok(i: int):
    return F.element_at(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != ""), i)


def _jcell(bbox: str, text_col, conf: str, label: str) -> "F.Column":
    return F.concat(
        F.lit('{"page_no": 1, "bbox": [' + bbox + '], "text": "'),
        text_col,
        F.lit(f'", "conf": {conf}, "label": "{label}"}}'),
    )


def _pdfish_two_col_payload():
    """Scrambled-order two-column page: title spans both columns, body
    lines interleaved right-before-left, plus a low-confidence noise cell
    (filtered), an overlapping duplicate (deduped), and header/footer
    furniture. Correct output requires column detection + reading order
    + block merge — physical input order is adversarial."""
    t = _tok
    lines = [
        _jcell("110, 120, 190, 130", F.concat(t(7), F.lit(" "), t(8)), "0.9", "text"),
        _jcell("10, 280, 190, 290", F.lit("Page 1"), "0.95", "page_footer"),
        _jcell("10, 100, 90, 110",
               F.concat(t(1), F.lit(" "), t(2), F.lit(" dup")), "0.8", "text"),
        _jcell("10, 150, 90, 160", F.lit("zzz"), "0.2", "text"),
        _jcell("10, 40, 190, 60",
               F.concat(F.lit("Title "), F.col("doc_id").cast("string")),
               "0.98", "title"),
        _jcell("10, 100, 90, 110", F.concat(t(1), F.lit(" "), t(2)), "0.9", "text"),
        _jcell("10, 10, 190, 20", F.lit("Conf Proc"), "0.95", "page_header"),
        _jcell("110, 100, 190, 110", F.concat(t(5), F.lit(" "), t(6)), "0.9", "text"),
        _jcell("10, 120, 90, 130", F.concat(t(3), F.lit(" "), t(4)), "0.9", "text"),
    ]
    return F.concat_ws("\n", *lines)


def q_extract_pdfish_reading_order(spark, sf_dir):
    return _extract_docs(spark, sf_dir, _pdfish_two_col_payload(), "pdfish")


def q_debug_svg_pages(spark, sf_dir):
    """Layout-debug SVG sink (operators/visualize.py, the draw_clusters
    analog — docling/utils/visualization.py:11) over the synthetic
    two-column pdfish pages. The SVG string depends only on cell
    geometry + labels (fixed per payload shape), pinned byte-exact by
    tests/test_visualize.py; the contract row carries the per-page
    box count the oracle can reproduce."""
    from docling_spark.operators.visualize import debug_svg_pages

    docs = _docs(spark, sf_dir).select(
        "doc_id", _pdfish_two_col_payload().alias("text"))
    return debug_svg_pages(docs).select("doc_id", "page_no", "n_cells")


# every doc's payload has the same 9 cells on one declared page; the
# conf-0.2 noise cell filters out and the overlapping duplicate dedups,
# leaving 7 (title + header + footer + 4 body lines)
ORACLE_DEBUG_SVG = """
select doc_id, 1 as page_no, 7 as n_cells from documents
"""


ORACLE_PDFISH_READING_ORDER = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks from documents
)
select doc_id, 'success' as status,
       '# Title ' || doc_id || chr(10) || chr(10)
        || toks[1] || ' ' || toks[2] || ' ' || toks[3] || ' ' || toks[4]
        || chr(10) || chr(10)
        || toks[5] || ' ' || toks[6] || ' ' || toks[7] || ' ' || toks[8]
        as extracted_text
from t
"""


def q_extract_pdfish_hyphen_merge(spark, sf_dir):
    t = _tok
    payload = F.concat_ws(
        "\n",
        _jcell("10, 40, 190, 60",
               F.concat(F.lit("Heading "), F.col("doc_id").cast("string")),
               "0.98", "section_header"),
        _jcell("10, 100, 190, 110", F.concat(t(1), F.lit(" exam-")), "0.9", "text"),
        _jcell("10, 120, 190, 130", F.concat(F.lit("ple "), t(2)), "0.9", "text"),
    )
    return _extract_docs(spark, sf_dir, payload, "pdfish")


ORACLE_PDFISH_HYPHEN = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks from documents
)
select doc_id, 'success' as status,
       '## Heading ' || doc_id || chr(10) || chr(10)
        || toks[1] || ' example ' || toks[2] as extracted_text
from t
"""


def q_extract_pdfish_pictures(spark, sf_dir):
    """Full-page-picture filter (layout_postprocessor.py:328-337): a
    declared page box, a PICTURE covering the whole page (dropped), a
    small PICTURE (kept, renders the image placeholder)."""
    payload = F.concat_ws(
        "\n",
        F.lit('{"page_no": 1, "width": 612, "height": 792}'),
        F.lit('{"page_no": 1, "bbox": [0, 0, 612, 792], "text": "", '
              '"label": "picture"}'),
        _jcell("10, 40, 300, 60",
               F.concat(F.lit("Doc "), F.col("doc_id").cast("string")),
               "0.98", "title"),
        F.lit('{"page_no": 1, "bbox": [50, 100, 200, 180], "text": "", '
              '"label": "picture"}'),
        _jcell("10, 200, 300, 215", _tok(1), "0.9", "text"),
    )
    return _extract_docs(spark, sf_dir, payload, "pdfish")


ORACLE_PDFISH_PICTURES = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks from documents
)
select doc_id, 'success' as status,
       '# Doc ' || doc_id || chr(10) || chr(10)
        || '<!-- image -->' || chr(10) || chr(10)
        || toks[1] as extracted_text
from t
"""


def q_extract_items_spans(spark, sf_dir):
    """The flattened item table with span offsets (ProvenanceItem.charspan
    analog): explode(items) of the two-column pdfish extraction."""
    from docling_spark.operators.extract_ops import extract_turns

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"), F.lit("user").alias("role"),
        F.lit(None).cast("timestamp").alias("ts"),
        _pdfish_two_col_payload().alias("text"),
        F.lit("pdfish").alias("tool"),
    )
    out = extract_turns(d)
    return out.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.explode("items").alias("it"),
    ).select(
        "doc_id",
        F.col("it.item_idx").alias("item_idx"),
        F.col("it.parent_idx").alias("parent_idx"),
        F.col("it.label").alias("label"),
        F.col("it.level").alias("level"),
        F.col("it.content_layer").alias("content_layer"),
        F.col("it.span_start").alias("span_start"),
        F.col("it.span_end").alias("span_end"),
        F.col("it.text").alias("item_text"),
    )


# span arithmetic: title = '# Title <id>' at 0; block1 at title_end+2 with
# text 't1 t2 t3 t4'; block2 follows at +2. Furniture spans are -1.
ORACLE_ITEMS_SPANS = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks,
         8 + length(doc_id::varchar) as title_end
  from documents
),
b as (
  select doc_id, toks, title_end,
         toks[1] || ' ' || toks[2] || ' ' || toks[3] || ' ' || toks[4] as blk1,
         toks[5] || ' ' || toks[6] || ' ' || toks[7] || ' ' || toks[8] as blk2
  from t
)
select doc_id, u.* from b,
lateral (
  select * from (values
    (0, -1, 'unspecified', 0, 'body', -1, -1, '_root_'),
    (1, 0, 'text', 1, 'furniture', -1, -1, 'Conf Proc'),
    (2, 0, 'title', 1, 'body', 0, title_end, 'Title ' || doc_id),
    (3, 2, 'text', 2, 'body', title_end + 2,
     title_end + 2 + length(blk1), blk1),
    (4, 2, 'text', 2, 'body', title_end + 4 + length(blk1),
     title_end + 4 + length(blk1) + length(blk2), blk2),
    (5, 2, 'text', 2, 'furniture', -1, -1, 'Page 1')
  ) v(item_idx, parent_idx, label, level, content_layer,
      span_start, span_end, item_text)
) u
"""


def q_extract_vtt_dialogue(spark, sf_dir):
    """WebVTT payload (cue ≈ turn, voice ≈ role): two cues, the second with
    an italic formatting run — md equality pinned by the reference's
    webvtt groundtruth semantics."""
    t = _tok
    payload = F.concat(
        F.lit("WEBVTT\n\n00:00:01.000 --> 00:00:02.000\n<v User>"),
        t(1), F.lit(" "), t(2),
        F.lit("\n\n00:00:02.000 --> 00:00:03.500\n<v Agent><i>"),
        t(3), F.lit("</i> "), t(4),
    )
    return _extract_docs(spark, sf_dir, payload, "vtt")


ORACLE_VTT_DIALOGUE = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks from documents
)
select doc_id, 'success' as status,
       toks[1] || ' ' || toks[2] || chr(10) || chr(10)
        || '*' || toks[3] || '*' || '  ' || toks[4] as extracted_text
from t
"""


# ---------------------------------------------------------------------------
# chunker family (UDTF shape: array<struct> + explode)
# ---------------------------------------------------------------------------

def q_chunk_fixed_tokens(spark, sf_dir):
    from docling_spark.operators.chunker import fixed_token_chunks

    return fixed_token_chunks(_docs(spark, sf_dir), chunk_tokens=4)


ORACLE_CHUNK_FIXED = """
with t as (
  select doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') toks
  from documents
  where trim(text) != ''
),
n as (select doc_id, toks, cast(ceil(len(toks) / 4.0) as int) as n_chunks from t),
e as (select doc_id, toks,
             unnest(generate_series(0, n_chunks - 1)) as i
      from n where n_chunks > 0)
select doc_id, cast(i as int) as chunk_idx,
       array_to_string(list_slice(toks, i * 4 + 1, i * 4 + 4), ' ') as chunk_text,
       cast(len(list_slice(toks, i * 4 + 1, i * 4 + 4)) as int) as n_tokens
from e
"""


def q_chunk_heading_context(spark, sf_dir):
    """Hierarchical chunking with heading context over the item table of
    the pdfish extraction: the nearest preceding heading is a window
    last(ignorenulls), not a per-doc loop."""
    from docling_spark.operators.chunker import heading_contextual_chunks

    items = q_extract_items_spans(spark, sf_dir).withColumnRenamed(
        "item_text", "text"
    )
    return heading_contextual_chunks(items)


ORACLE_CHUNK_HEADING = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks from documents
)
select doc_id, cast(u.chunk_idx as int) as chunk_idx,
       'Title ' || doc_id as heading, u.chunk_text
from t,
lateral (
  select * from (values
    (0, toks[1] || ' ' || toks[2] || ' ' || toks[3] || ' ' || toks[4]),
    (1, toks[5] || ' ' || toks[6] || ' ' || toks[7] || ' ' || toks[8])
  ) v(chunk_idx, chunk_text)
) u
"""


# ---------------------------------------------------------------------------
# ANN scale path: sign-LSH bucketed cosine (approximate by construction,
# deterministic — the oracle reproduces the same buckets bit-for-bit)
# ---------------------------------------------------------------------------

_ANN_PLANES = 4
_ANN_DIM = 64


def q_ann_bucket_pairs(spark, sf_dir):
    """Same-bucket ANN candidate pairs under single-table sign-LSH,
    bucket-capped at 64 smallest-id representatives before each bucket's
    pairs are scored (with _ANN_PLANES planes there are only
    2^_ANN_PLANES distinct bucket values, so an uncapped bucket costs
    ~m²/2^planes pairs at ANY corpus size — the r3 verdict's last
    uncapped-join finding)."""
    from docling_spark.operators.similarity import ann_bucket_pairs

    return ann_bucket_pairs(
        _emb(spark, sf_dir), threshold=0.2,
        n_planes=_ANN_PLANES, dim=_ANN_DIM, max_bucket=64,
    )


def _ann_oracle(max_bucket: int = 64) -> str:
    from docling_spark.operators.similarity import _plane

    plane_sql = []
    for b in range(_ANN_PLANES):
        consts = ", ".join(repr(v) for v in _plane(_ANN_DIM, b))
        plane_sql.append(
            f"case when list_dot_product(embedding::double[], [{consts}]) > 0 "
            f"then {2 ** b} else 0 end"
        )
    bucket = " + ".join(plane_sql)
    return f"""
with b0 as (
  select vec_id, embedding, cast({bucket} as bigint) as bucket from embeddings
),
b as (
  select vec_id, embedding, bucket from (
    select vec_id, embedding, bucket,
           row_number() over (partition by bucket order by vec_id) as _rn
    from b0
  ) where _rn <= {max_bucket}
)
select a.vec_id as id_a, c.vec_id as id_b, a.bucket,
       round(list_cosine_similarity(a.embedding::double[],
                                    c.embedding::double[]), 6) as cos
from b a join b c on a.bucket = c.bucket and a.vec_id < c.vec_id
where round(list_cosine_similarity(a.embedding::double[],
                                   c.embedding::double[]), 6) >= 0.2
"""


def q_ann_topk_batch(spark, sf_dir):
    """Batch ANN serving: 5 query vectors (the corpus's first five ids)
    probe their sign-LSH Hamming-1 ball as an exploded EQUI-join against
    the bucketed corpus, top-3 per query by cosine. The query-side
    explosion is what keeps the corpus join hashable at 100 TB — a
    bit_count theta-join would pair-enumerate."""
    from docling_spark.operators.similarity import ann_topk_batch

    e = _emb(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return ann_topk_batch(
        e, queries, k=3, n_planes=_ANN_PLANES, dim=_ANN_DIM)


def _ann_topk_batch_oracle() -> str:
    from docling_spark.operators.similarity import _plane

    plane_sql = []
    for b in range(_ANN_PLANES):
        consts = ", ".join(repr(v) for v in _plane(_ANN_DIM, b))
        plane_sql.append(
            f"case when list_dot_product(embedding::double[], [{consts}]) > 0 "
            f"then {2 ** b} else 0 end"
        )
    bucket = " + ".join(plane_sql)
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << b})" for b in range(_ANN_PLANES)])
    return f"""
with c as (
  select vec_id, embedding, cast({bucket} as bigint) as bucket from embeddings
),
q as (
  select vec_id as query_id, embedding as qv, bucket from c where vec_id < 5
),
p as (
  select query_id, qv, unnest([{probe_list}]) as bucket from q
),
s as (
  select p.query_id, c.vec_id,
         round(list_cosine_similarity(p.qv::double[],
                                      c.embedding::double[]), 6) as score
  from p join c on p.bucket = c.bucket
),
r as (
  select query_id, vec_id, score,
         row_number() over (partition by query_id
                            order by score desc, vec_id asc) as rank
  from s
)
select query_id, cast(rank as int) as rank, vec_id, score
from r where rank <= 3
"""


# ---------------------------------------------------------------------------
# multimodal family (binary columns + typed metadata; decode is a
# deterministic sha256 stub — the Spark plumbing is real)
# ---------------------------------------------------------------------------

def q_kmeans_codebook(spark, sf_dir):
    """Lloyd's k-means codebook training (deterministic: id-prefix init,
    6-dp-rounded means/cosines) — k=4 centroids, 2 iterations; output
    exploded to (centroid_id, n_members, dim_idx, value) rows so the
    contract carries no array column (driver-canonicalizer rule)."""
    from docling_spark.operators.similarity import kmeans_codebook

    cb = kmeans_codebook(_emb(spark, sf_dir), k=4, iters=2)
    return cb.select(
        "centroid_id", "n_members",
        F.posexplode(F.col("cvec")).alias("pos", "value"),
    ).select(
        "centroid_id", "n_members",
        (F.col("pos") + 1).cast("int").alias("dim_idx"),
        F.col("value"),
    )


def _kmeans_assign_sql(cents_cte: str) -> str:
    return f"""
  select vec_id, centroid_id from (
    select e.vec_id, c.centroid_id,
      row_number() over (partition by e.vec_id
        order by round(list_cosine_similarity(e.embedding::double[], c.cvec), 6)
                   desc, c.centroid_id) as rk
    from embeddings e cross join {cents_cte} c) t where rk = 1
"""


def _kmeans_step_sql(asg_cte: str, prev_cte: str, means_cte: str) -> str:
    """One Lloyd update: per-dim member means (6-dp) with empty-cluster
    carry-over of the previous centroid."""
    return f"""
  select p.centroid_id, coalesce(n.cvec, p.cvec) as cvec
  from {prev_cte} p left join (
    select centroid_id, list(mval order by pos) as cvec
    from {means_cte} group by 1) n using (centroid_id)
"""


_KMEANS_MEANS_SQL = """
  select a.centroid_id, u.pos, round(avg(e.embedding[u.pos]::double), 6) as mval
  from {asg} a join embeddings e using (vec_id),
       unnest(generate_series(1, len(e.embedding))) as u(pos)
  group by 1, 2
"""

ORACLE_KMEANS_CODEBOOK = f"""
with c0 as (
  select vec_id as centroid_id, embedding::double[] as cvec
  from embeddings where vec_id < 4
),
a0 as ({_kmeans_assign_sql("c0")}),
m0 as ({_KMEANS_MEANS_SQL.format(asg="a0")}),
c1 as ({_kmeans_step_sql("a0", "c0", "m0")}),
a1 as ({_kmeans_assign_sql("c1")}),
m1 as ({_KMEANS_MEANS_SQL.format(asg="a1")}),
c2 as ({_kmeans_step_sql("a1", "c1", "m1")}),
af as ({_kmeans_assign_sql("c2")}),
sizes as (select centroid_id, count(*) as n from af group by 1)
select c.centroid_id,
       cast(coalesce(s.n, 0) as bigint) as n_members,
       cast(u.pos as int) as dim_idx,
       c.cvec[u.pos] as value
from c2 c
left join sizes s using (centroid_id),
     unnest(generate_series(1, len(c.cvec))) as u(pos)
"""


def q_ivf_assign(spark, sf_dir):
    """IVF coarse quantization (deterministic codebook = first 8 vectors):
    every vector's nearest centroid by cosine — the scale path partitions
    the corpus by centroid_id so probes touch one list, not the table."""
    from docling_spark.operators.similarity import ivf_assign

    return ivf_assign(_emb(spark, sf_dir), n_centroids=8)


ORACLE_IVF_ASSIGN = """
with c as (
  select vec_id as centroid_id, embedding as cvec from embeddings where vec_id < 8
),
s as (
  select e.vec_id, c.centroid_id,
         round(list_cosine_similarity(e.embedding::double[], c.cvec::double[]), 6) as cos
  from embeddings e cross join c
),
r as (
  select *, row_number() over (partition by vec_id
                               order by cos desc, centroid_id) as rk
  from s
)
select vec_id, centroid_id, cos from r where rk = 1
"""

_PQ_SLICE_SQL = """
e as (select vec_id, embedding::double[] as v from embeddings),
sub as (select unnest(generate_series(0, 7)) as s),
sl as (select vec_id, s, v[8*s+1 : 8*s+8] as sv from e cross join sub),
cb as (select vec_id as code, s, sv as cv from sl where vec_id < 16)
"""

_PQ_CODES_SQL = """
d as (
  select sl.vec_id, sl.s, cb.code,
         round(list_sum(list_transform(generate_series(1, 8),
               i -> (sl.sv[i] - cb.cv[i]) * (sl.sv[i] - cb.cv[i]))), 6)
           as dist2
  from sl join cb using (s)
),
r as (select *, row_number() over (partition by vec_id, s
                                   order by dist2, code) as rk from d)
"""


def q_pq_encode(spark, sf_dir):
    """Product-quantization encoding (Jégou et al. 2011): 64-dim vectors →
    8 one-byte codes via per-subspace argmin against a broadcast m×k
    codebook. Distances rounded 6 dp before ranking so both engines pick
    identical codes."""
    from docling_spark.operators.similarity import pq_encode

    return pq_encode(_emb(spark, sf_dir), m=8, dim=64, k=16)


ORACLE_PQ_ENCODE = f"""
with {_PQ_SLICE_SQL},
{_PQ_CODES_SQL}
select vec_id, cast(s as int) as subspace, cast(code as int) as code, dist2
from r where rk = 1
"""


def q_pq_adc_topk(spark, sf_dir):
    """PQ asymmetric-distance top-k serving: query (vec 0) stays exact,
    corpus is its codes; distance = sum of m lookup-table entries —
    no per-pair vector math at query time. Ends in a distributed
    TakeOrdered, never a global rank window."""
    from docling_spark.operators.similarity import pq_adc_topk

    return pq_adc_topk(_emb(spark, sf_dir), query_id=0,
                       m=8, dim=64, k=16, topk=10)


ORACLE_PQ_ADC_TOPK = f"""
with {_PQ_SLICE_SQL},
{_PQ_CODES_SQL},
q as (select s, sv as qv from sl where vec_id = 0),
lut as (
  select cb.s, cb.code,
         round(list_sum(list_transform(generate_series(1, 8),
               i -> (q.qv[i] - cb.cv[i]) * (q.qv[i] - cb.cv[i]))), 6) as qd
  from cb join q using (s)
),
codes as (select vec_id, s, code from r where rk = 1)
select vec_id, round(sum(qd), 6) as adc_dist
from codes join lut using (s, code)
group by vec_id
order by adc_dist, vec_id
limit 10
"""


def _media_df(spark, sf_dir):
    d = _docs(spark, sf_dir)
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return d.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.concat(F.lit("media:"), F.col("doc_id").cast("string")),
                 "utf-8").alias("payload"),
        F.concat(F.lit("application/x-"), kind).alias("mime"),
        F.create_map(
            F.lit("duration_s"), (F.col("doc_id") % 25 + 5).cast("string")
        ).alias("meta"),
    )


def q_media_features(spark, sf_dir):
    """Contract variant emits the feature vector as a micro-unit CSV string
    (round(x,6)*1e6 per dim, comma-joined): the driver's canonicalizer
    sorts/hashes result cells with pandas, and an ``array<float>`` cell is
    unhashable there (r1 red row). The array form stays available via
    ``extract_media_features`` directly."""
    from docling_spark.operators.multimodal import extract_media_features

    feats = extract_media_features(_media_df(spark, sf_dir), feature_dim=4)
    micro = F.transform(
        F.col("feature"),
        lambda x: F.round(x.cast("double") * 1e6).cast("long").cast("string"),
    )
    return feats.select(
        "media_id", "kind", "n_bytes", "digest",
        F.coalesce(F.col("width"), F.lit(0)).alias("width"),
        F.coalesce(F.col("height"), F.lit(0)).alias("height"),
        F.concat_ws(",", micro).alias("feature_csv"),
    )


ORACLE_MEDIA_FEATURES = """
with m as (
  select doc_id as media_id,
         ['image','audio','video'][cast(doc_id % 3 + 1 as int)] as kind,
         'media:' || doc_id as payload
  from documents
),
h as (select media_id, kind, octet_length(encode(payload)) as n_bytes,
             sha256(payload) as digest from m)
select media_id, kind, cast(n_bytes as int) as n_bytes, digest,
       case when kind = 'image'
            then cast(64 + ('0x' || substr(digest, 1, 2))::int % 1920 as int)
            else 0 end as width,
       case when kind = 'image'
            then cast(64 + ('0x' || substr(digest, 3, 2))::int % 1080 as int)
            else 0 end as height,
       array_to_string(
         [cast(round(round(('0x' || substr(digest, 1, 2))::int / 255.0, 6) * 1000000) as bigint),
          cast(round(round(('0x' || substr(digest, 3, 2))::int / 255.0, 6) * 1000000) as bigint),
          cast(round(round(('0x' || substr(digest, 5, 2))::int / 255.0, 6) * 1000000) as bigint),
          cast(round(round(('0x' || substr(digest, 7, 2))::int / 255.0, 6) * 1000000) as bigint)],
         ',') as feature_csv
from h
"""


def q_media_resize(spark, sf_dir):
    """Aspect-preserving resize plan over decoded image dimensions —
    JVM-side column math; the (stubbed) decoder supplies width/height."""
    from docling_spark.operators.multimodal import (
        extract_media_features,
        resize_plan,
    )

    feats = extract_media_features(_media_df(spark, sf_dir), feature_dim=4)
    return resize_plan(feats, max_side=256)


ORACLE_MEDIA_RESIZE = """
with m as (
  select doc_id as media_id, sha256('media:' || doc_id) as digest
  from documents where doc_id % 3 = 0
),
wh as (
  select media_id,
         cast(64 + ('0x' || substr(digest, 1, 2))::int % 1920 as int) as width,
         cast(64 + ('0x' || substr(digest, 3, 2))::int % 1080 as int) as height
  from m
)
select media_id, width, height,
       greatest(cast(floor(width * least(1.0, 256.0 / greatest(width, height)))
                     as int), 1) as target_w,
       greatest(cast(floor(height * least(1.0, 256.0 / greatest(width, height)))
                     as int), 1) as target_h
from wh
"""


def q_token_counts(spark, sf_dir):
    """Token counting both ways (whitespace + BPE-ish regex over
    word/punctuation pieces) — all JVM-side regexp_count."""
    from docling_spark.operators.textstats import token_count

    c = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count(c).alias("n_ws_tokens"),
        F.regexp_count(c, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"))
        .alias("n_bpe_tokens"),
        F.regexp_count(c, F.lit(r"[A-Za-z0-9]+")).alias("n_words"),
    )


ORACLE_TOKEN_COUNTS = """
select doc_id,
       case when trim(text) = '' then 0
            else len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) end as n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))
         as n_bpe_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9]+')) as n_words
from documents
"""


def q_frame_sample(spark, sf_dir):
    from docling_spark.operators.multimodal import frame_sample_plan

    return frame_sample_plan(_media_df(spark, sf_dir), fps=0.5)


ORACLE_FRAME_SAMPLE = """
with v as (
  select doc_id as media_id, doc_id % 25 + 5 as dur
  from documents where doc_id % 3 = 2
),
n as (select media_id, greatest(cast(floor(dur * 0.5) as int), 1) as n_frames from v),
e as (select media_id, unnest(generate_series(0, n_frames - 1)) as i from n)
select media_id, round(i * 2.0, 3) as frame_ts from e
"""


def q_extract_pdf(spark, sf_dir):
    """Native PDF end-to-end: a real single-page PDF (Helvetica, three
    positioned Tj lines: an 18 pt 'Doc {id}' title line and two 11 pt
    body lines) synthesized per document in an Arrow-batched UDF, routed
    raw (%PDF- prefix, latin-1-safe) through tool='pdf' into the
    from-scratch parser (engine/pdfx.py: object scan → content-stream
    interpreter → line cells) and the shared layout tail
    (layoutx.extract_from_cells). Geometry is chosen so the title/body
    gap (27.6 pt > 18 pt line height) blocks merging while the two body
    lines (9 pt gap ≤ 11 pt) merge into one paragraph — the oracle
    predicts the markdown arithmetically."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mk(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        out = []
        for i, t in zip(doc_id, text):
            toks = str(t).split() + ["x", "x", "x", "x"]
            esc = [
                w.replace("\\", r"\\").replace("(", r"\(")
                .replace(")", r"\)") for w in toks[:4]
            ]
            content = (
                f"BT /F1 18 Tf 72 720 Td (Doc {i}) Tj ET\n"
                f"BT /F1 11 Tf 72 680 Td ({esc[0]} {esc[1]}) Tj ET\n"
                f"BT /F1 11 Tf 72 660 Td ({esc[2]} {esc[3]}) Tj ET\n"
            )
            pdf = (
                "%PDF-1.4\n"
                "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
                "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
                "3 0 obj << /Type /Page /Parent 2 0 R "
                "/MediaBox [0 0 612 792] "
                "/Resources << /Font << /F1 4 0 R >> >> "
                "/Contents 5 0 R >> endobj\n"
                "4 0 obj << /Type /Font /Subtype /Type1 "
                "/BaseFont /Helvetica >> endobj\n"
                f"5 0 obj << /Length {len(content)} >> stream\n"
                f"{content}endstream endobj\n"
                "trailer << /Root 1 0 R >>\n%%EOF\n"
            )
            out.append(pdf)
        return pd.Series(out)

    _mk.__annotations__ = {"doc_id": pd.Series, "text": pd.Series,
                           "return": pd.Series}
    pdf_raw = pandas_udf(_mk, "string")
    payload = pdf_raw(F.col("doc_id"), F.col("text"))
    return _extract_docs(spark, sf_dir, payload, "pdf")


ORACLE_EXTRACT_PDF = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks from documents
)
select doc_id, 'success' as status,
       'Doc ' || doc_id || chr(10) || chr(10)
        || toks[1] || ' ' || toks[2] || ' ' || toks[3] || ' ' || toks[4]
        as extracted_text
from t
"""


def q_extract_pdf_encrypted(spark, sf_dir):
    """Encrypted-PDF end-to-end: the UDF builds the same single-page PDF
    as extract_pdf but RC4-encrypts the content stream under the
    standard security handler (R=2/V=1, empty user password) using the
    engine's own primitives — /O from the owner password (Algorithm 3),
    /U = RC4(file key, padding) (Algorithm 4), per-object keys — and the
    extraction route must derive the key, verify /U, and decrypt before
    parsing (engine/pdfcrypto.py). Oracle = same plaintext arithmetic as
    extract_pdf, so a green hash certifies the whole crypto round-trip."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mk(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        import base64
        import hashlib
        import struct

        from docling_spark.engine.pdfcrypto import _PAD, rc4

        out = []
        p_flags = -44  # permissions: printing/copying denied
        for i, t in zip(doc_id, text):
            toks = str(t).split() + ["x", "x", "x", "x"]
            esc = [
                w.replace("\\", r"\\").replace("(", r"\(")
                .replace(")", r"\)") for w in toks[:4]
            ]
            content = (
                f"BT /F1 18 Tf 72 720 Td (Doc {i}) Tj ET\n"
                f"BT /F1 11 Tf 72 680 Td ({esc[0]} {esc[1]}) Tj ET\n"
                f"BT /F1 11 Tf 72 660 Td ({esc[2]} {esc[3]}) Tj ET\n"
            ).encode("latin-1")
            doc_id_bytes = hashlib.md5(f"id{i}".encode()).digest()
            # Algorithm 3: /O from owner password "owner", user pw ""
            o_key = hashlib.md5((b"owner" + _PAD)[:32]).digest()[:5]
            o_val = rc4(o_key, _PAD[:32])
            # Algorithm 2: file key (R=2, 40-bit)
            key = hashlib.md5(
                _PAD + o_val + struct.pack("<i", p_flags) + doc_id_bytes
            ).digest()[:5]
            # Algorithm 4: /U = RC4(key, pad)
            u_val = rc4(key, _PAD)
            # stream object 5, gen 0: per-object key
            obj_key = hashlib.md5(
                key + struct.pack("<I", 5)[:3] + b"\x00\x00"
            ).digest()[:10]
            enc_content = rc4(obj_key, content)
            pdf = (
                b"%PDF-1.4\n"
                b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
                b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
                b"3 0 obj << /Type /Page /Parent 2 0 R "
                b"/MediaBox [0 0 612 792] "
                b"/Resources << /Font << /F1 4 0 R >> >> "
                b"/Contents 5 0 R >> endobj\n"
                b"4 0 obj << /Type /Font /Subtype /Type1 "
                b"/BaseFont /Helvetica >> endobj\n"
                + f"5 0 obj << /Length {len(enc_content)} >> stream\n".encode()
                + enc_content + b"\nendstream endobj\n"
                + b"6 0 obj << /Filter /Standard /V 1 /R 2 "
                + f"/P {p_flags} ".encode()
                + b"/O <" + o_val.hex().encode() + b"> "
                + b"/U <" + u_val.hex().encode() + b"> >> endobj\n"
                + b"trailer << /Root 1 0 R /Encrypt 6 0 R /ID [<"
                + doc_id_bytes.hex().encode() + b"> <"
                + doc_id_bytes.hex().encode() + b">] >>\n%%EOF\n"
            )
            out.append(base64.b64encode(pdf).decode())
        return pd.Series(out)

    _mk.__annotations__ = {"doc_id": pd.Series, "text": pd.Series,
                           "return": pd.Series}
    pdf_b64 = pandas_udf(_mk, "string")
    payload = pdf_b64(F.col("doc_id"), F.col("text"))
    return _extract_docs(spark, sf_dir, payload, "pdf")


ORACLE_EXTRACT_PDF_ENCRYPTED = ORACLE_EXTRACT_PDF


def q_pdf_hyperlinks(spark, sf_dir):
    """PDF ``/Annots`` hyperlink round-trip + max-coverage attachment
    (the reference's page_assemble_model.py:60-110 rule as a relational
    join). The UDF synthesizes the extract_pdf single-page PDF per
    document PLUS three Link annotations — uri_a split across TWO rects
    that together cover body line 1 (exercising the per-URI coverage
    SUM), and uri_b over empty space (no element overlaps it) — then
    parses its own bytes back through engine/pdfx.py (pdf_line_cells +
    pdf_hyperlinks). The relational tail is operators/spatial.py
    hyperlink_attach: (doc, page) equi-join, summed
    intersection-over-self per URI, best-URI window, 0.5 threshold.
    Oracle: exactly one attachment per document — body line 1 ↔ uri_a at
    coverage 1.0 (the two rects tile the full line)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from docling_spark.operators.spatial import hyperlink_attach

    def _mk(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        from docling_spark.engine.pdfx import (
            PdfDocument,
            pdf_hyperlinks,
            pdf_line_cells,
        )

        out = []
        for i, t in zip(doc_id, text):
            toks = str(t).split() + ["x", "x", "x", "x"]
            esc = [
                w.replace("\\", r"\\").replace("(", r"\(")
                .replace(")", r"\)") for w in toks[:4]
            ]
            content = (
                f"BT /F1 18 Tf 72 720 Td (Doc {i}) Tj ET\n"
                f"BT /F1 11 Tf 72 680 Td ({esc[0]} {esc[1]}) Tj ET\n"
                f"BT /F1 11 Tf 72 660 Td ({esc[2]} {esc[3]}) Tj ET\n"
            )
            pdf = (
                "%PDF-1.4\n"
                "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
                "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
                "3 0 obj << /Type /Page /Parent 2 0 R "
                "/MediaBox [0 0 612 792] "
                "/Resources << /Font << /F1 4 0 R >> >> "
                "/Annots [6 0 R 7 0 R 8 0 R] "
                "/Contents 5 0 R >> endobj\n"
                "4 0 obj << /Type /Font /Subtype /Type1 "
                "/BaseFont /Helvetica >> endobj\n"
                f"5 0 obj << /Length {len(content)} >> stream\n"
                f"{content}endstream endobj\n"
                "6 0 obj << /Type /Annot /Subtype /Link "
                "/Rect [0 670 200 700] "
                f"/A << /S /URI /URI (https://ex.com/a{i}) >> >> endobj\n"
                "7 0 obj << /Type /Annot /Subtype /Link "
                "/Rect [200 700 612 670] "  # corner order intentionally
                f"/A << /S /URI /URI (https://ex.com/a{i}) >> >> endobj\n"
                "8 0 obj << /Type /Annot /Subtype /Link "
                "/Rect [0 10 612 40] "
                f"/A << /S /URI /URI (https://ex.com/b{i}) >> >> endobj\n"
                "trailer << /Root 1 0 R >>\n%%EOF\n"
            )
            payload = pdf.encode("latin-1", "replace")
            rows = []
            try:
                # one parse shared by the text and hyperlink passes
                pdoc = PdfDocument(payload)
                cells, _sizes = pdf_line_cells(pdoc)
                for k, c in enumerate(cells):
                    l, tt, r, b = c["bbox"]
                    rows.append((
                        "cell", k, int(c["page_no"]), c["text"],
                        float(l), float(tt), float(r), float(b), None,
                    ))
                for lk in pdf_hyperlinks(pdoc):
                    rows.append((
                        "link", None, int(lk["page_no"]), None,
                        float(lk["l"]), float(lk["t"]),
                        float(lk["r"]), float(lk["b"]), lk["uri"],
                    ))
            except Exception:
                rows = []
            out.append(rows)
        return pd.Series(out)

    _mk.__annotations__ = {"doc_id": pd.Series, "text": pd.Series,
                           "return": pd.Series}
    parse = pandas_udf(
        _mk,
        "array<struct<kind:string,item_id:int,page:int,text:string,"
        "l:double,t:double,r:double,b:double,uri:string>>",
    )
    parsed = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(parse(F.col("doc_id"),
                                          F.col("text"))).alias("x"))
        .select("doc_id", "x.*")
        .persist()
    )
    items = parsed.filter(F.col("kind") == "cell").select(
        "doc_id", "page", "item_id", "l", "t", "r", "b")
    links = parsed.filter(F.col("kind") == "link").select(
        "doc_id", "page", "uri", "l", "t", "r", "b")
    att = hyperlink_attach(items, links, min_coverage=0.5)
    texts = parsed.filter(F.col("kind") == "cell").select(
        "doc_id", "page", "item_id", F.col("text").alias("item_text"))
    return att.join(texts, ["doc_id", "page", "item_id"]).select(
        "doc_id", "item_text", "uri", "coverage")


ORACLE_PDF_HYPERLINKS = """
-- mirrors the UDF's token padding (toks + ['x','x','x','x']): short or
-- empty documents pad with 'x'. The corpus word list is ASCII so the
-- UDF's latin-1 'replace' encoding is the identity here.
with t as (
  select doc_id,
         case when trim(text) = '' then cast([] as varchar[])
              else list_filter(string_split_regex(text, '\\s+'), x -> x <> '') end toks
  from documents
)
select doc_id,
       coalesce(toks[1], 'x') || ' ' || coalesce(toks[2], 'x') as item_text,
       'https://ex.com/a' || doc_id as uri,
       1.0 as coverage
from t
"""


def q_dup_span_removal(spark, sf_dir):
    """Exact duplicated-substring removal (ExactSubstr dedup, Lee et al.
    2022, re-expressed relationally): 8-token windows duplicated across
    documents are cut from every doc but the smallest-id keeper;
    overlapping cuts merge into spans; docs reassemble from surviving
    tokens (operators/curation.py dup_span_removal). Fully
    SQL-expressible, so the oracle replicates the whole pipeline."""
    from docling_spark.operators.curation import dup_span_removal

    return dup_span_removal(_docs(spark, sf_dir), k=8)


ORACLE_DUP_SPAN_REMOVAL = """
with arr as (
  select doc_id,
         list_filter(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
                     x -> x <> '') as toks
  from documents
),
n as (select doc_id, toks, len(toks) as n_tokens from arr),
grams as (
  select doc_id, g.i as pos,
         substr(md5(lower(array_to_string(toks[g.i:g.i+7], ' '))), 1, 16)
           as digest
  from n, unnest(generate_series(1, n_tokens - 7)) as g(i)
  where n_tokens >= 8
),
dup as (
  select digest, min(doc_id) as keeper
  from grams group by digest having count(distinct doc_id) > 1
),
removed as (
  select g.doc_id, g.pos as s, g.pos + 7 as e
  from grams g join dup d using (digest)
  where g.doc_id <> d.keeper
),
marked as (
  select doc_id, s, e,
         max(e) over (partition by doc_id order by s
                      rows between unbounded preceding and 1 preceding)
           as prev_max_e
  from removed
),
numbered as (
  select doc_id, s, e,
         sum(case when prev_max_e is null or s > prev_max_e
                  then 1 else 0 end)
           over (partition by doc_id order by s
                 rows between unbounded preceding and current row)
           as span_id
  from marked
),
spans as (
  select doc_id, span_id, min(s) as s, max(e) as e
  from numbered group by doc_id, span_id
),
covered as (
  select doc_id, unnest(generate_series(s, e)) as pos from spans
),
stream as (
  select doc_id, n_tokens, g.i as pos, toks[g.i] as tok
  from n, unnest(generate_series(1, n_tokens)) as g(i)
),
kept as (
  select st.doc_id, st.n_tokens, st.pos, st.tok
  from stream st
  anti join covered c on st.doc_id = c.doc_id and st.pos = c.pos
),
agg as (
  select doc_id,
         string_agg(tok, ' ' order by pos) as clean_text,
         cast(n_tokens as int) as n_tokens,
         cast(n_tokens - count(*) as int) as n_removed
  from kept
  group by doc_id, n_tokens
)
select n.doc_id,
       coalesce(a.clean_text, '') as clean_text,
       coalesce(a.n_tokens, cast(n.n_tokens as int)) as n_tokens,
       coalesce(a.n_removed, cast(n.n_tokens as int)) as n_removed
from n left join agg a using (doc_id)
"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup pipeline (Abbas et al. 2023 shape):
    LSH-gated cosine near-dup pairs over the embedding column → connected
    components (min-label + pointer-jumping) → per-vector canonical
    verdict (smallest id in the cluster keeps). Pure composition of the
    scale-safe building blocks; no stage is n²."""
    from docling_spark.operators.dedup import (
        connected_components,
        keep_canonical,
    )
    from docling_spark.operators.similarity import cosine_pairs_lsh

    emb = _emb(spark, sf_dir)
    pairs = cosine_pairs_lsh(
        emb, threshold=0.45,
        n_bands=_PAIR_BANDS, planes_per_band=_PAIR_PPB, dim=_ANN_DIM,
    )
    comps = connected_components(
        pairs.select(F.col("id_a").alias("doc_a"),
                     F.col("id_b").alias("doc_b"))
    ).select(F.col("doc_id").alias("vec_id"), "component")
    return keep_canonical(emb.select("vec_id"), comps, id_col="vec_id")


def _semantic_dedup_oracle() -> str:
    return f"""
with pairs as ({_cosine_pairs_oracle()}),
edges as (
  select id_a as src, id_b as dst from pairs
  union
  select id_b, id_a from pairs
),
reach as (
  with recursive r(src, dst) as (
    select src, dst from edges
    union
    select r.src, e.dst from r join edges e on r.dst = e.src
  )
  select * from r
),
comp as (
  select src as vec_id, least(src, min(dst)) as component
  from reach group by src
)
select v.vec_id,
       coalesce(c.component, v.vec_id) as canonical_id,
       cast(v.vec_id = coalesce(c.component, v.vec_id) as int)
         as is_canonical
from embeddings v left join comp c on c.vec_id = v.vec_id
"""


def q_quality_classifier(spark, sf_dir):
    """Hashed logistic-regression quality-filter inference (fastText/
    DCLM-filter serving shape): md5-bucketed token features, broadcast
    weight-array lookup via element_at inside F.aggregate, sigmoid of
    the mean — all JVM column expressions, zero Python in the path
    (operators/textstats.py linear_quality_score)."""
    from docling_spark.operators.textstats import linear_quality_score

    return linear_quality_score(_docs(spark, sf_dir), dim=256)


ORACLE_QUALITY_CLASSIFIER = """
with t as (
  select doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') as toks
  from documents
),
f as (
  select doc_id, len(toks) as n_tokens,
         case when len(toks) = 0 then 0.0 else
           list_sum(list_transform(toks, tok ->
             (((('0x' || substr(md5(tok), 1, 8))::bigint % 256)
               * 2654435761) % 2001 - 1000) / 1000.0
           )) / len(toks) end as mean_w
  from t
)
select doc_id, cast(n_tokens as int) as n_tokens,
       round(1.0 / (1.0 + exp(-mean_w)), 6) as score,
       cast(round(1.0 / (1.0 + exp(-mean_w)), 6) > 0.5 as int) as keep
from f
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR importance-resampling weights: target domain = docs with
    doc_id %% 7 == 0, source = the rest; hashed-unigram LM ratio with
    Laplace smoothing, deterministic keep flag at importance ratio > 1
    (operators/curation.py dsir_weights)."""
    from docling_spark.operators.curation import dsir_weights

    d = _docs(spark, sf_dir)
    return dsir_weights(
        d.filter(F.col("doc_id") % 7 != 0),
        d.filter(F.col("doc_id") % 7 == 0),
        dim=1024,
    )


ORACLE_DSIR = """
with tok as (
  select doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            x -> x <> '')) as tok
  from documents
),
b as (
  select doc_id,
         ('0x' || substr(md5(tok), 1, 8))::bigint % 1024 as bucket
  from tok
),
src as (select * from b where doc_id % 7 != 0),
tgt as (select * from b where doc_id % 7 = 0),
cs as (select bucket, count(*) c from src group by 1),
ct as (select bucket, count(*) c from tgt group by 1),
ns as (select count(*) n from src),
nt as (select count(*) n from tgt),
scored as (
  select s.doc_id, count(*) as n_tokens,
         round(sum(
           ln((coalesce(ct.c, 0) + 1.0) / ((select n from nt) + 1024))
           - ln((coalesce(cs.c, 0) + 1.0) / ((select n from ns) + 1024))
         ), 6) as log_weight
  from src s
  left join ct on ct.bucket = s.bucket
  left join cs on cs.bucket = s.bucket
  group by s.doc_id
)
select doc_id, cast(n_tokens as int) as n_tokens, log_weight,
       cast(log_weight > 0 as int) as keep
from scored
"""


def q_diversity_sample(spark, sf_dir):
    """Cluster-balanced diversity sampling (DCLM/SemDeDup-followup
    shape): IVF coarse quantization buckets the embedding space, then a
    deterministic hash-mod take keeps 30% of every cluster — sampling
    pressure is uniform ACROSS clusters, so dense regions cannot crowd
    out rare ones. Pure composition: ivf_assign (broadcast codebook) +
    stratified_sample (scan-fused filter, no shuffle)."""
    from docling_spark.operators.curation import strat_key
    from docling_spark.operators.similarity import ivf_assign

    assigned = ivf_assign(_emb(spark, sf_dir), n_centroids=8)
    return assigned.where(
        strat_key(F.col("vec_id")) < 3000
    ).select("vec_id", "centroid_id")


ORACLE_DIVERSITY_SAMPLE = """
with c as (
  select vec_id as centroid_id, embedding as cvec
  from embeddings where vec_id < 8
),
s as (
  select e.vec_id, c.centroid_id,
         round(list_cosine_similarity(e.embedding::double[],
                                      c.cvec::double[]), 6) as cos
  from embeddings e cross join c
),
r as (
  select *, row_number() over (partition by vec_id
                               order by cos desc, centroid_id) as rk
  from s
)
select vec_id, centroid_id from r
where rk = 1
  and ('0x' || substr(md5(cast(vec_id as varchar)), 1, 8))::bigint % 10000
      < 3000
"""


def q_extract_doc(spark, sf_dir):
    """Legacy .doc end-to-end: a real Word-binary file (OLE2 v3 container,
    FIB, one-piece CLX, cp1252 text) synthesized per document
    (docbinx.synthesize_doc), base64'd, routed through tool='doc' into
    the native parser — a format the reference cannot read without a
    LibreOffice subprocess. The oracle predicts the paragraph join."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mk(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        import base64

        from docling_spark.engine.docbinx import synthesize_doc

        out = []
        for i, t in zip(doc_id, text):
            toks = str(t).split() + ["x", "x", "x", "x"]
            body = (f"Doc {i} heading line\n"
                    f"{toks[0]} {toks[1]} first paragraph\n"
                    f"{toks[2]} {toks[3]} second one")
            out.append(base64.b64encode(synthesize_doc(body)).decode())
        return pd.Series(out)

    _mk.__annotations__ = {"doc_id": pd.Series, "text": pd.Series,
                           "return": pd.Series}
    doc_b64 = pandas_udf(_mk, "string")
    return _extract_docs(spark, sf_dir, doc_b64(F.col("doc_id"),
                                                F.col("text")), "doc")


ORACLE_EXTRACT_DOC = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks from documents
)
select doc_id, 'success' as status,
       'Doc ' || doc_id || ' heading line' || chr(10) || chr(10)
        || toks[1] || ' ' || toks[2] || ' first paragraph'
        || chr(10) || chr(10)
        || toks[3] || ' ' || toks[4] || ' second one' as extracted_text
from t
"""


_NORM_SQL = "trim(regexp_replace(lower({c}), '\\s+', ' ', 'g'))"
# bounded LM vocabulary (textstats.DEFAULT_MAX_VOCAB): top-V types by
# (count desc, token asc) with the dropped mass pooled into one unk
# bucket — the oracle expresses the SAME cutoff as the Spark operator,
# so parity holds even on a corpus whose type count exceeds V
_LM_MAX_VOCAB = 1 << 18
_UNI_LM_SQL = f"""corpus as (
  select unnest(list_filter(
    string_split({_NORM_SQL.format(c='text')}, ' '), x -> x <> ''
  )) as token from documents
),
uni_all as (select token, count(*) as n_t from corpus group by 1),
tot_all as (select coalesce(sum(n_t), 0) as n_total,
                   count(*) as vocab_all from uni_all),
uni as (select token, n_t from uni_all
        order by n_t desc, token limit {_LM_MAX_VOCAB}),
tot as (
  select t.n_total,
         k.v_top + case when t.vocab_all > k.v_top then 1 else 0 end
           as vocab,
         (t.n_total - k.n_top)
           / greatest(t.vocab_all - k.v_top, 1) as unk_mean
  from tot_all t,
       (select count(*) as v_top, coalesce(sum(n_t), 0) as n_top
        from uni) k)"""


def q_line_perplexity(spark, sf_dir):
    """CCNet's line-scoring primitive: per-line perplexity under the
    corpus's own unigram LM (CCNet proper scores with a pretrained KenLM
    — a model artifact this sandbox doesn't have; the corpus LM stands
    in behind the same broadcast-join plumbing). Plan: line posexplode →
    token join against the one-groupBy unigram table → per-line agg."""
    from docling_spark.operators.textstats import line_perplexity

    return line_perplexity(_docs(spark, sf_dir))


ORACLE_LINE_PPL = f"""
with lines as (
  select doc_id, cast(i - 1 as int) as line_no, parts[i] as line
  from (select doc_id, string_split(coalesce(text, ''), chr(10)) as parts
        from documents),
       unnest(generate_series(1, len(parts))) as g(i)
),
ltoks as (
  select doc_id, line_no, unnest(list_filter(
    string_split({_NORM_SQL.format(c='line')}, ' '), x -> x <> ''
  )) as token from lines
),
{_UNI_LM_SQL},
per_line as (
  select doc_id, line_no, count(*) as n_tokens,
         round(exp(avg(-ln((coalesce(n_t, unk_mean) + 1.0)
                          / (n_total + vocab)))), 6) as ppl
  from ltoks left join uni using (token) cross join tot
  group by 1, 2
)
select l.doc_id, l.line_no,
       coalesce(p.n_tokens, 0)::bigint as n_tokens, p.ppl
from lines l left join per_line p using (doc_id, line_no)
"""


def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail: per-document perplexity, tercile cutoffs
    as an exact-percentile 2-value aggregate broadcast back (never a
    global ntile window — that is the single-reducer shape the plan
    audit screens out)."""
    from docling_spark.operators.textstats import ccnet_buckets

    return ccnet_buckets(_docs(spark, sf_dir))


ORACLE_CCNET = f"""
with dtoks as (
  select doc_id, unnest(list_filter(
    string_split({_NORM_SQL.format(c='text')}, ' '), x -> x <> ''
  )) as token from documents
),
{_UNI_LM_SQL},
per_doc as (
  select doc_id,
         round(exp(avg(-ln((coalesce(n_t, unk_mean) + 1.0)
                          / (n_total + vocab)))), 6) as ppl
  from dtoks left join uni using (token) cross join tot
  group by 1
),
cuts as (
  select quantile_cont(ppl, 1.0/3) as c1, quantile_cont(ppl, 2.0/3) as c2
  from per_doc
)
select d.doc_id, p.ppl,
       case when p.ppl is null then 'tail'
            when p.ppl <= c.c1 then 'head'
            when p.ppl <= c.c2 then 'middle'
            else 'tail' end as bucket
from documents d
left join per_doc p using (doc_id)
cross join cuts c
"""


def q_lm_vocab_overflow(spark, sf_dir):
    """Visibility companion to the bounded LM vocabulary: with a
    planted small cutoff (V=16; the synthetic corpus has ~31 types) the
    one-row report (vocab_all, vocab_kept, dropped_types,
    unk_token_count) exercises the top-V selection and the pooled unk
    mass end-to-end at test scale; production uses DEFAULT_MAX_VOCAB."""
    from docling_spark.operators.textstats import lm_vocab_overflow

    return lm_vocab_overflow(_docs(spark, sf_dir), max_vocab=16)


ORACLE_LM_OVERFLOW = f"""
with corpus as (
  select unnest(list_filter(
    string_split({_NORM_SQL.format(c='text')}, ' '), x -> x <> ''
  )) as token from documents
),
uni_all as (select token, count(*) as n_t from corpus group by 1),
top as (select token, n_t from uni_all order by n_t desc, token limit 16)
select a.vocab_all, k.vocab_kept,
       a.vocab_all - k.vocab_kept as dropped_types,
       a.n_total - k.n_top as unk_token_count
from (select count(*)::bigint as vocab_all,
             coalesce(sum(n_t), 0)::bigint as n_total from uni_all) a,
     (select count(*)::bigint as vocab_kept,
             coalesce(sum(n_t), 0)::bigint as n_top from top) k
where a.vocab_all > k.vocab_kept
"""


_BLOOM_M = 1 << 16
_BLOOM_K = 4


def _bloom_pos_sql(fp_expr: str) -> str:
    probes = ", ".join(f"({i})" for i in range(_BLOOM_K))
    return f"""select mod(('0x' || substr(md5('bloom:' || t.i || ':' || {fp_expr}),
                       1, 15))::bigint, {_BLOOM_M}) as pos
  from f, (values {probes}) t(i)"""


def q_bloom_filter_build(spark, sf_dir):
    """Dolma-style Bloom-filter dedup index: the whole corpus's
    membership structure as an O(m)-bit bitmap (m/32 int32-keyed longs)
    built by one groupBy(word_idx).agg(bit_or) — constant-size output
    regardless of corpus size, broadcastable to any probe join."""
    from docling_spark.operators.dedup import bloom_build

    return bloom_build(_docs(spark, sf_dir), m_bits=_BLOOM_M, k=_BLOOM_K)


ORACLE_BLOOM_BUILD = f"""
with f as (
  select md5({_NORM_SQL.format(c='text')}) as fp from documents
),
pos as ({_bloom_pos_sql('f.fp')})
select cast(floor(pos / 32) as int) as word_idx,
       bit_or(1::bigint << cast(mod(pos, 32) as int)) as bits
from pos group by 1
"""


def q_bloom_dedup_check(spark, sf_dir):
    """Incremental-ingestion membership probe: the even-doc_id half of
    the corpus builds the filter, every document probes it. Evens are
    always maybe_dup (no false negatives); odds only via the documented
    false-positive rate — deterministic under the md5 hash family, so
    the oracle reproduces every verdict bit-for-bit."""
    from docling_spark.operators.dedup import bloom_build, bloom_check

    docs = _docs(spark, sf_dir)
    bloom = bloom_build(docs.filter(F.col("doc_id") % 2 == 0),
                        m_bits=_BLOOM_M, k=_BLOOM_K)
    return bloom_check(docs, bloom, m_bits=_BLOOM_M, k=_BLOOM_K)


ORACLE_BLOOM_CHECK = f"""
with f as (
  select md5({_NORM_SQL.format(c='text')}) as fp from documents
  where doc_id % 2 = 0
),
pos as ({_bloom_pos_sql('f.fp')}),
bloom as (
  select cast(floor(pos / 32) as int) as word_idx,
         bit_or(1::bigint << cast(mod(pos, 32) as int)) as bits
  from pos group by 1
),
probe_f as (
  select doc_id, md5({_NORM_SQL.format(c='text')}) as fp from documents
),
probes as (
  select doc_id,
         mod(('0x' || substr(md5('bloom:' || t.i || ':' || p.fp),
              1, 15))::bigint, {_BLOOM_M}) as pos
  from probe_f p, (values {", ".join(f"({i})" for i in range(_BLOOM_K))}) t(i)
),
hits as (
  select p.doc_id,
         case when b.bits is not null
                   and (b.bits & (1::bigint << cast(mod(p.pos, 32) as int)))
                       = (1::bigint << cast(mod(p.pos, 32) as int))
              then 1 else 0 end as hit
  from probes p
  left join bloom b on b.word_idx = cast(floor(p.pos / 32) as int)
)
select doc_id, sum(hit) = {_BLOOM_K} as maybe_dup
from hits group by 1
"""


def q_bigram_lm(spark, sf_dir):
    """Corpus bigram LM count table (top-k by pair count with conditional
    probabilities) — the n-gram artifact an LM-data pipeline builds for
    contamination screens and backoff filters. Plan: doc-partitioned
    lead window (never a self-join), two partial-agg groupBys, a
    broadcast unigram join, TakeOrderedAndProject top-k."""
    from docling_spark.operators.textstats import bigram_lm

    return bigram_lm(_docs(spark, sf_dir), k=30, min_count=2)


ORACLE_BIGRAM_LM = """
with arr as (
  select doc_id,
         list_filter(
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                            'g')), ' '),
           t -> t <> '') as toks
  from documents
),
n as (select doc_id, toks, len(toks) as n from arr),
pairs as (
  select toks[g.i] as w1, toks[g.i + 1] as w2
  from n, unnest(generate_series(1, n - 1)) as g(i)
  where n >= 2
),
uni as (
  select t.tok as w1, count(*) as n1
  from arr, unnest(toks) as t(tok)
  group by 1
),
bi as (
  select w1, w2, count(*) as n2 from pairs group by 1, 2
  having count(*) >= 2
)
select b.w1, b.w2, cast(b.n2 as bigint) as pair_count,
       round(b.n2 * 1.0 / u.n1, 6) as cond_p
from bi b join uni u using (w1)
order by pair_count desc, w1, w2
limit 30
"""


BM25_QUERY_TERMS = ["spark", "join", "vector", "hash"]


def q_bm25_scores(spark, sf_dir):
    """Okapi BM25 relevance of every document to a fixed query-term set
    (the retrieval-side twin of tfidf_topk — RAG-recall / corpus-search
    scoring). Plan: token explode filtered to the query terms BEFORE any
    shuffle, one (doc, term) partial-agg groupBy, broadcast df join,
    one-row scalar (N, avgdl) attach — nothing pairwise, one corpus
    scan."""
    from docling_spark.operators.textstats import bm25_scores

    return bm25_scores(_docs(spark, sf_dir), BM25_QUERY_TERMS)


ORACLE_BM25 = """
with lens as (
  select doc_id,
         case when trim(text) = '' then 0
              else len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) end as dl
  from documents
),
stats as (select count(*) as n_docs, avg(dl) as avgdl from lens),
toks as (
  select doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) as tok
  from documents
),
hits as (
  select * from toks where tok in ('spark', 'join', 'vector', 'hash')
),
tf as (select doc_id, tok, count(*) as tf from hits group by 1, 2),
dfq as (select tok, count(*) as df from tf group by 1),
parts as (
  select tf.doc_id,
         round(
           ln(1.0 + (stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / stats.avgdl)),
           8) as part
  from tf
  join dfq using (tok)
  join lens using (doc_id)
  cross join stats
)
select doc_id, cast(count(*) as bigint) as n_hit_terms,
       -- same 1e-9 boundary nudge as bm25_scores (textstats.py): 8dp
       -- parts sum onto exact 6dp half boundaries, where engine double
       -- rounding diverges by a sum ulp
       round(sum(part) + 1e-9, 6) as score
from parts group by doc_id
"""


def q_extract_doc_rich(spark, sf_dir):
    """Legacy .doc with the round-2 structure layers: a real Word binary
    carrying a PAPX FKP (sprmPIlfo list bindings + fInTable/fTtp cell
    marks), PlfLst/PlfLfo numbering tables (arabic + bullet), and a CHPX
    FKP (sprmCFBold) is synthesized per document
    (docbinx.synthesize_doc_rich) and parsed back natively. The oracle
    predicts numbered/bulleted lists and the bold-header table
    arithmetically — the hash certifies the LFO/LVL + CHPX + TTP parse
    paths end-to-end (the plain extract_doc query certifies only the
    piece-table text layer)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mk(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        import base64

        from docling_spark.engine.docbinx import synthesize_doc_rich

        out = []
        for i, t in zip(doc_id, text):
            toks = str(t).split()
            blob = synthesize_doc_rich([
                (f"Note {i}", "text"),
                (toks[0], "number"), (toks[1], "number"),
                (toks[2], "bullet"),
                ("Metric", "cellbold"), ("Value", "cellbold"),
                ("", "rowend"),
                ("chars", "cell"), (str(len(str(t).strip())), "cell"),
                ("", "rowend"),
            ])
            out.append(base64.b64encode(blob).decode())
        return pd.Series(out)

    _mk.__annotations__ = {"doc_id": pd.Series, "text": pd.Series,
                           "return": pd.Series}
    doc_b64 = pandas_udf(_mk, "string")
    return _extract_docs(spark, sf_dir, doc_b64(F.col("doc_id"),
                                                F.col("text")), "doc")


ORACLE_EXTRACT_DOC_RICH = """
with t as (
  select doc_id, trim(text) tt,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks
  from documents
)
select doc_id, 'success' as status,
       'Note ' || doc_id || chr(10) || chr(10)
        || '1. ' || toks[1] || chr(10) || '2. ' || toks[2]
        || chr(10) || chr(10)
        || '- ' || toks[3] || chr(10) || chr(10)
        || '| **Metric** | **Value** |' || chr(10) || '| - | - |'
        || chr(10) || '| chars | ' || length(tt) || ' |'
          as extracted_text
from t
"""


def q_extract_xls(spark, sf_dir):
    """Legacy .xls end-to-end: a real BIFF8 workbook (OLE2 container,
    SST shared strings, NUMBER cells) synthesized per document
    (xlsbinx.synthesize_xls), base64'd, routed through tool='xls' into
    the native parser — a format the reference cannot read without a
    LibreOffice subprocess. Two flood-fill regions per sheet (a 1x1
    title table and a 2-column data table); the oracle predicts the
    markdown arithmetically, so the hash certifies the full
    write→OLE2→BIFF→flood-fill→markdown round-trip."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mk(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        import base64

        from docling_spark.engine.xlsbinx import synthesize_xls

        out = []
        from datetime import datetime, timedelta

        epoch = datetime(1899, 12, 30)
        for i, t in zip(doc_id, text):
            tt = str(t).strip()
            tok = tt.split()[0]
            grid = [
                [f"Duck log {i}"],
                [],
                ["Metric", "Value"],
                ["chars", float(len(tt))],
                ["first", tok],
                ["when", epoch + timedelta(days=40000 + int(i) % 2000)],
            ]
            out.append(base64.b64encode(
                synthesize_xls("Obs", grid)).decode())
        return pd.Series(out)

    _mk.__annotations__ = {"doc_id": pd.Series, "text": pd.Series,
                           "return": pd.Series}
    xls_b64 = pandas_udf(_mk, "string")
    return _extract_docs(spark, sf_dir, xls_b64(F.col("doc_id"),
                                                F.col("text")), "xls")


ORACLE_EXTRACT_XLS = """
with t as (
  select doc_id, trim(text) tt,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks
  from documents
)
select doc_id, 'success' as status,
       '| Duck log ' || doc_id || ' |' || chr(10) || '| - |'
        || chr(10) || chr(10)
        || '| Metric | Value |' || chr(10) || '| - | - |' || chr(10)
        || '| chars | ' || length(tt) || ' |' || chr(10)
        || '| first | ' || replace(toks[1], '|', '&#124;') || ' |'
        || chr(10) || '| when | '
        || cast(TIMESTAMP '1899-12-30 00:00:00'
                + ((doc_id % 2000) + 40000) * INTERVAL 1 DAY as varchar)
        || ' |'
          as extracted_text
from t
"""


def q_extract_ppt(spark, sf_dir):
    """Legacy .ppt end-to-end: a real PPT97 binary (OLE2 container,
    Current User + UserEditAtom + persist directory, OfficeArt shape
    records, TextPFException bullet runs) synthesized per document
    (pptbinx.synthesize_ppt), base64'd, routed through tool='ppt' into
    the native parser — a format the reference cannot read without a
    LibreOffice subprocess. The oracle predicts the markdown (title,
    paragraph, ordered bullets) arithmetically, so the hash certifies
    the full write→persist-resolve→shape-walk→markdown round-trip."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mk(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        import base64

        from docling_spark.engine.pptbinx import synthesize_ppt

        out = []
        for i, t in zip(doc_id, text):
            toks = str(t).split()
            blob = synthesize_ppt([{
                "title": f"Deck {i}",
                "paras": [f"{toks[0]} opening remark"],
                "bullets": [toks[1], toks[2]],
                "ordered": True,
            }])
            out.append(base64.b64encode(blob).decode())
        return pd.Series(out)

    _mk.__annotations__ = {"doc_id": pd.Series, "text": pd.Series,
                           "return": pd.Series}
    ppt_b64 = pandas_udf(_mk, "string")
    return _extract_docs(spark, sf_dir, ppt_b64(F.col("doc_id"),
                                                F.col("text")), "ppt")


ORACLE_EXTRACT_PPT = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks
  from documents
)
select doc_id, 'success' as status,
       '# Deck ' || doc_id || chr(10) || chr(10)
        || toks[1] || ' opening remark' || chr(10) || chr(10)
        || '1. ' || toks[2] || chr(10)
        || '2. ' || toks[3] as extracted_text
from t
"""


def q_media_probe(spark, sf_dir):
    """Audio container probe, end-to-end binary: synthesize real PCM WAV
    payloads from media_id (synth_wav_df — RIFF header + zero frames,
    parameters arithmetic in media_id), then parse them back with the
    from-scratch header prober (engine/audiox.py, the ffmpeg-probe half
    of the reference ASR front-end, asr_transcriber.py). The oracle
    predicts every probed field arithmetically, so the value-hash
    certifies byte-level write→parse agreement, not just plumbing."""
    from docling_spark.operators.multimodal import (
        probe_media_meta,
        synth_wav_df,
    )

    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    probed = probe_media_meta(synth_wav_df(ids))
    return probed.select(
        "media_id", "n_bytes", "container", "codec",
        F.round("duration_s", 6).alias("duration_s"),
        "sample_rate", "channels", "bits",
    )


ORACLE_MEDIA_PROBE = """
with p as (
  select doc_id as media_id,
         [8000, 16000, 22050, 44100][cast(doc_id % 4 + 1 as int)] as rate,
         cast(doc_id % 2 + 1 as int) as channels,
         cast(doc_id % 5 + 1 as int) as hundredths
  from documents
)
select media_id,
       cast(44 + (rate // 100) * hundredths * channels * 2 as int) as n_bytes,
       'wav' as container, 'pcm' as codec,
       round((rate // 100) * hundredths / cast(rate as double), 6)
         as duration_s,
       cast(rate as int) as sample_rate, channels,
       cast(16 as int) as bits
from p
"""


def q_extract_email(spark, sf_dir):
    """RFC-822 payload: Subject→title, From/To/Date header items (date
    ISO-8601), blank-line body paragraphs (email_backend.py semantics)."""
    t = _tok
    payload = F.concat(
        F.lit("From: Alice Example <alice@example.com>\n"),
        F.lit("To: user"), F.col("doc_id").cast("string"),
        F.lit("@example.com\nSubject: Report "), t(1),
        F.lit("\nDate: Mon, 17 Aug 2026 10:30:00 +0000\n\n"),
        t(2), F.lit(" "), t(3), F.lit(" first paragraph.\n\nSecond one "),
        t(4), F.lit("."),
    )
    return _extract_docs(spark, sf_dir, payload, "email")


ORACLE_EMAIL = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks from documents
)
select doc_id, 'success' as status,
       '# Report ' || toks[1] || chr(10) || chr(10)
        || 'From: Alice Example <alice@example.com>' || chr(10) || chr(10)
        || 'To: user' || doc_id || '@example.com' || chr(10) || chr(10)
        || 'Date: 2026-08-17T10:30:00+00:00' || chr(10) || chr(10)
        || toks[2] || ' ' || toks[3] || ' first paragraph.' || chr(10) || chr(10)
        || 'Second one ' || toks[4] || '.' as extracted_text
from t
"""


# ---------------------------------------------------------------------------
# export sinks (doctags / itxt — OutputFormat surface)
# ---------------------------------------------------------------------------

def q_heading_hierarchy(spark, sf_dir):
    """The HTML heading parent stack (html_backend.py:2157-2228): h2 under
    h1, h3 under h2, a later h2 truncates back to the h1 level — verified
    on the exploded item tree."""
    from docling_spark.operators.extract_ops import extract_turns

    t = _tok
    payload = F.concat(
        F.lit("<h1>A "), F.col("doc_id").cast("string"), F.lit("</h1><p>"),
        t(1), F.lit("</p><h2>B</h2><p>"), t(2),
        F.lit("</p><h3>C</h3><p>"), t(3),
        F.lit("</p><h2>D</h2><p>"), t(4), F.lit("</p>"),
    )
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"), F.lit("user").alias("role"),
        F.lit(None).cast("timestamp").alias("ts"),
        payload.alias("text"), F.lit("html").alias("tool"),
    )
    return (
        extract_turns(d)
        .select(F.col("conv_id").cast("long").alias("doc_id"),
                F.explode("items").alias("it"))
        .select(
            "doc_id",
            F.col("it.item_idx").alias("item_idx"),
            F.col("it.parent_idx").alias("parent_idx"),
            F.col("it.label").alias("label"),
            F.col("it.level").alias("level"),
            F.col("it.text").alias("item_text"),
        )
    )


ORACLE_HEADING_HIERARCHY = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks from documents
)
select doc_id, u.* from t,
lateral (
  select * from (values
    (0, -1, 'unspecified', 0, '_root_'),
    (1, 0, 'title', 1, 'A ' || doc_id),
    (2, 1, 'text', 2, toks[1]),
    (3, 1, 'section_header', 2, 'B'),
    (4, 3, 'text', 3, toks[2]),
    (5, 3, 'section_header', 3, 'C'),
    (6, 5, 'text', 4, toks[3]),
    (7, 1, 'section_header', 2, 'D'),
    (8, 7, 'text', 3, toks[4])
  ) v(item_idx, parent_idx, label, level, item_text)
) u
"""


def q_chunk_budget(spark, sf_dir):
    """Token-budget packing (HybridChunker analog): three 4-token
    paragraphs under one heading, budget 8 → items 1+2 share a chunk,
    item 3 spills to the next — the bin id is a window cumsum, not a
    stateful scan."""
    from docling_spark.operators.chunker import budget_chunks
    from docling_spark.operators.extract_ops import extract_turns

    t = _tok
    payload = F.concat(
        F.lit("<h1>T "), F.col("doc_id").cast("string"), F.lit("</h1><p>"),
        t(1), F.lit(" "), t(2), F.lit(" a b</p><p>"),
        t(3), F.lit(" "), t(4), F.lit(" c d</p><p>"),
        t(5), F.lit(" "), t(6), F.lit(" e f</p>"),
    )
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"), F.lit("user").alias("role"),
        F.lit(None).cast("timestamp").alias("ts"),
        payload.alias("text"), F.lit("html").alias("tool"),
    )
    items = (
        extract_turns(d)
        .select(F.col("conv_id").cast("long").alias("doc_id"),
                F.explode("items").alias("it"))
        .select("doc_id", F.col("it.item_idx").alias("item_idx"),
                F.col("it.label").alias("label"),
                F.col("it.text").alias("text"),
                F.col("it.content_layer").alias("content_layer"))
    )
    return budget_chunks(items, max_tokens=8)


ORACLE_CHUNK_BUDGET = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks from documents
)
select doc_id, 'T ' || doc_id as heading, cast(1 as int) as heading_idx,
       u.chunk_id, u.chunk_text, u.n_tokens
from t,
lateral (
  select * from (values
    (0, toks[1] || ' ' || toks[2] || ' a b ' || toks[3] || ' ' || toks[4]
        || ' c d', cast(8 as bigint)),
    (1, toks[5] || ' ' || toks[6] || ' e f', cast(4 as bigint))
  ) v(chunk_id, chunk_text, n_tokens)
) u
"""


_X7 = " ".join(["x"] * 7)
_Y9 = " ".join(["y"] * 9)
_Z40 = " ".join(["z"] * 40)


def q_hybrid_chunks(spark, sf_dir):
    """Full HybridChunker pipeline (token-aware split + sequential peer
    merge + contextualization — docling-core HybridChunker as driven by
    docling/cli/main.py:594-622), arithmetic fixture: per doc, section
    'Sec k' holds five 7-token items and section 'Part m' holds three
    9-token items plus one 40-token item; max_tokens=30 (heading = 2
    tokens → 28 available) ⇒ merge packs items 1-4 (28) then item 5
    spills; 3x9 merge to 27; the oversize item splits 28+12 and can
    never re-merge. Five chunks per document, every boundary predicted
    by the oracle."""
    from docling_spark.operators.chunker import hybrid_chunks

    d = _docs(spark, sf_dir).select("doc_id")
    sec = F.concat(F.lit("Sec "), (F.col("doc_id") % 5).cast("string"))
    part = F.concat(F.lit("Part "), (F.col("doc_id") % 3).cast("string"))

    def _it(idx, label, text):
        return F.struct(
            F.lit(idx).alias("item_idx"), F.lit(label).alias("label"),
            (F.lit(1) if label == "section_header"
             else F.lit(None)).cast("int").alias("level"),
            (F.lit(text) if isinstance(text, str) else text).alias("text"),
            F.lit("body").alias("content_layer"),
        )

    structs = [_it(0, "section_header", sec)]
    structs += [_it(i, "text", _X7) for i in range(1, 6)]
    structs += [_it(6, "section_header", part)]
    structs += [_it(i, "text", _Y9) for i in range(7, 10)]
    structs += [_it(10, "text", _Z40)]
    items = d.select("doc_id", F.explode(F.array(*structs)).alias("it")) \
        .select("doc_id", "it.*")
    out = hybrid_chunks(items, max_tokens=30)
    return out.select(
        "doc_id", "chunk_idx",
        F.array_join("headings", " / ").alias("heading_path"),
        "chunk_text", "contextualized", "n_tokens",
    )


def _nl_join(parts: list[str]) -> str:
    return " || chr(10) || ".join(parts)


ORACLE_HYBRID_CHUNKS = f"""
with d as (
  select doc_id,
         'Sec ' || (doc_id % 5) as ha,
         'Part ' || (doc_id % 3) as hb
  from documents
)
select doc_id, 0 as chunk_idx, ha as heading_path,
       {_nl_join([f"'{_X7}'"] * 4)} as chunk_text,
       {_nl_join(["ha"] + [f"'{_X7}'"] * 4)} as contextualized,
       30 as n_tokens
from d
union all
select doc_id, 1, ha, '{_X7}', ha || chr(10) || '{_X7}', 9 from d
union all
select doc_id, 2, hb,
       {_nl_join([f"'{_Y9}'"] * 3)},
       {_nl_join(["hb"] + [f"'{_Y9}'"] * 3)}, 29
from d
union all
select doc_id, 3, hb, '{" ".join(["z"] * 28)}',
       hb || chr(10) || '{" ".join(["z"] * 28)}', 30 from d
union all
select doc_id, 4, hb, '{" ".join(["z"] * 12)}',
       hb || chr(10) || '{" ".join(["z"] * 12)}', 14 from d
"""


def q_conversation_assembly(spark, sf_dir):
    """Conversation-level document assembly: three-turn conversations
    folded into one document per conversation in stable turn order
    (standard_pdf_pipeline.py:1038-1048 page→document assembly analog)."""
    from docling_spark.operators.extract_ops import (
        assemble_conversations,
        extract_turns,
    )

    tr = _synth_transcripts(spark, sf_dir)
    return assemble_conversations(extract_turns(tr))


ORACLE_CONVERSATION_ASSEMBLY = """
with t as (
  select doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) as norm
  from documents
)
select 'conv' || lpad(doc_id::varchar, 8, '0') as conv_id,
       norm || chr(10) || chr(10)
        || '# Document ' || doc_id || chr(10) || chr(10) || norm
        || chr(10) || chr(10)
        || '```' || chr(10) || '{"doc": ' || doc_id || ', "status": "ok"}'
        || chr(10) || '```' as conversation_text,
       3 as n_turns, cast(3 as bigint) as n_success
from t
"""


def q_extract_xlsx(spark, sf_dir):
    """XLSX end-to-end: per-doc SpreadsheetML zip (workbook + one sheet
    with an inline-string header row and two data rows) synthesized in an
    Arrow-batched UDF, base64'd, routed through tool='xlsx'
    (engine/xlsxx.py flood-fill table discovery)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mk(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        import base64
        import io
        import zipfile
        from xml.sax.saxutils import escape

        NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        RNS = ("http://schemas.openxmlformats.org/officeDocument/2006/"
               "relationships")
        out = []
        for i, t in zip(doc_id, text):
            toks = (str(t).split() + ["x", "y"])[:2]
            wb = (
                f'<?xml version="1.0"?><workbook xmlns="{NS}" '
                f'xmlns:r="{RNS}"><sheets>'
                f'<sheet name="Data" sheetId="1" r:id="rId1"/>'
                f"</sheets></workbook>"
            )
            rels = (
                '<?xml version="1.0"?><Relationships xmlns="http://schemas.'
                'openxmlformats.org/package/2006/relationships">'
                '<Relationship Id="rId1" Type="http://schemas.'
                "openxmlformats.org/officeDocument/2006/relationships/"
                'worksheet" Target="worksheets/sheet1.xml"/></Relationships>'
            )

            def cell(ref, val):
                return (f'<c r="{ref}" t="inlineStr"><is><t>'
                        f"{escape(str(val))}</t></is></c>")

            def num(ref, val):
                return f'<c r="{ref}"><v>{val}</v></c>'

            sheet = (
                f'<?xml version="1.0"?><worksheet xmlns="{NS}"><sheetData>'
                f'<row r="1">{cell("A1", "k")}{cell("B1", "v")}</row>'
                f'<row r="2">{cell("A2", toks[0])}{num("B2", int(i))}</row>'
                f'<row r="3">{cell("A3", toks[1])}{num("B3", int(i) * 2)}'
                f"</row></sheetData></worksheet>"
            )
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w") as z:
                z.writestr("xl/workbook.xml", wb)
                z.writestr("xl/_rels/workbook.xml.rels", rels)
                z.writestr("xl/worksheets/sheet1.xml", sheet)
            out.append(base64.b64encode(buf.getvalue()).decode())
        return pd.Series(out)

    _mk.__annotations__ = {"doc_id": pd.Series, "text": pd.Series,
                           "return": pd.Series}
    xlsx_b64 = pandas_udf(_mk, "string")
    payload = xlsx_b64(F.col("doc_id"), F.col("text"))
    return _extract_docs(spark, sf_dir, payload, "xlsx")


ORACLE_EXTRACT_XLSX = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks
  from documents
)
select doc_id, 'success' as status,
       '## Data' || chr(10) || chr(10)
       || '| k | v |' || chr(10) || '| - | - |' || chr(10)
       || '| ' || toks[1] || ' | ' || doc_id || ' |' || chr(10)
       || '| ' || toks[2] || ' | ' || (doc_id * 2) || ' |'
       as extracted_text
from t
"""


def q_extract_pptx(spark, sf_dir):
    """PPTX end-to-end: per-doc PresentationML zip (one slide with a title
    placeholder and a bulleted body) synthesized in an Arrow-batched UDF,
    base64'd, routed through tool='pptx' (engine/pptxx.py)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mk(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        import base64
        import io
        import zipfile
        from xml.sax.saxutils import escape

        P = "http://schemas.openxmlformats.org/presentationml/2006/main"
        A = "http://schemas.openxmlformats.org/drawingml/2006/main"
        R = ("http://schemas.openxmlformats.org/officeDocument/2006/"
             "relationships")
        out = []
        for i, t in zip(doc_id, text):
            toks = (str(t).split() + ["x", "y"])[:2]
            pres = (
                f'<?xml version="1.0"?><p:presentation xmlns:p="{P}" '
                f'xmlns:r="{R}"><p:sldIdLst>'
                f'<p:sldId id="256" r:id="rId1"/></p:sldIdLst>'
                f"</p:presentation>"
            )
            rels = (
                '<?xml version="1.0"?><Relationships xmlns="http://schemas.'
                'openxmlformats.org/package/2006/relationships">'
                '<Relationship Id="rId1" Type="http://schemas.'
                "openxmlformats.org/officeDocument/2006/relationships/"
                'slide" Target="slides/slide1.xml"/></Relationships>'
            )

            def sp(ph, y, paras):
                body = "".join(
                    f"<a:p>{ppr}<a:r><a:t>{escape(tx)}</a:t></a:r></a:p>"
                    for ppr, tx in paras
                )
                pht = f'<p:ph type="{ph}"/>' if ph else "<p:ph idx=\"1\"/>"
                return (
                    f"<p:sp><p:nvSpPr><p:cNvPr id=\"1\" name=\"s\"/>"
                    f"<p:cNvSpPr/><p:nvPr>{pht}</p:nvPr></p:nvSpPr>"
                    f'<p:spPr><a:xfrm><a:off x="0" y="{y}"/>'
                    f'<a:ext cx="100" cy="100"/></a:xfrm></p:spPr>'
                    f"<p:txBody><a:bodyPr/>{body}</p:txBody></p:sp>"
                )

            slide = (
                f'<?xml version="1.0"?><p:sld xmlns:p="{P}" xmlns:a="{A}">'
                f"<p:cSld><p:spTree><p:nvGrpSpPr><p:cNvPr id=\"0\" "
                f'name="g"/><p:cNvGrpSpPr/><p:nvPr/></p:nvGrpSpPr>'
                f"<p:grpSpPr/>"
                + sp("title", 0, [("", f"Deck {i}")])
                + sp(None, 1000, [
                    ("<a:pPr><a:buChar char=\"•\"/></a:pPr>", toks[0]),
                    ("<a:pPr><a:buChar char=\"•\"/></a:pPr>", toks[1]),
                ])
                + "</p:spTree></p:cSld></p:sld>"
            )
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w") as z:
                z.writestr("ppt/presentation.xml", pres)
                z.writestr("ppt/_rels/presentation.xml.rels", rels)
                z.writestr("ppt/slides/slide1.xml", slide)
            out.append(base64.b64encode(buf.getvalue()).decode())
        return pd.Series(out)

    _mk.__annotations__ = {"doc_id": pd.Series, "text": pd.Series,
                           "return": pd.Series}
    pptx_b64 = pandas_udf(_mk, "string")
    payload = pptx_b64(F.col("doc_id"), F.col("text"))
    return _extract_docs(spark, sf_dir, payload, "pptx")


ORACLE_EXTRACT_PPTX = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks
  from documents
)
select doc_id, 'success' as status,
       '# Deck ' || doc_id || chr(10) || chr(10)
       || '- ' || toks[1] || chr(10) || '- ' || toks[2]
       as extracted_text
from t
"""


def q_extract_latex(spark, sf_dir):
    """LaTeX end-to-end (engine/texwalk.py node walker, byte-exact on
    the reference's full groundtruth corpus): section + paragraph with
    a cite + display math, built JVM-side."""
    payload = F.concat(
        F.lit("\\documentclass{article}\n\\begin{document}\n"
              "\\section{Paper "),
        F.col("doc_id").cast("string"),
        F.lit("}\n\n"),
        F.col("text"),
        F.lit(" \\cite{src42}.\n\n$$E = mc^2$$\n\n"
              "\\end{document}\n"),
    )
    return _extract_docs(spark, sf_dir, payload, "latex")


ORACLE_EXTRACT_LATEX = """
-- the chars node after \\section{..} contains the paragraph break, so
-- its tail (the document text) is emitted as its own paragraph item and
-- the trailing cite starts a NEW paragraph (reference chars-split
-- semantics, texwalk process_nodes)
select doc_id, 'success' as status,
       '## Paper ' || doc_id || chr(10) || chr(10) || text
       || chr(10) || chr(10) || '[src42].'
       || chr(10) || chr(10) || '$$E = mc^2$$' as extracted_text
from documents
"""


def q_extract_uspto(spark, sf_dir):
    """USPTO ICE v4.x end-to-end: a minimal patent application (title,
    abstract, heading, paragraph, one claim) built JVM-side
    (engine/usptox.py SAX walk)."""
    payload = F.concat(
        F.lit('<?xml version="1.0" encoding="UTF-8"?>\n'
              '<!DOCTYPE us-patent-application SYSTEM '
              '"us-patent-application-v44-2014-04-03.dtd" [ ]>\n'
              "<us-patent-application>"
              "<invention-title>Patent "),
        F.col("doc_id").cast("string"),
        F.lit("</invention-title><abstract><p>"),
        F.col("text"),
        F.lit("</p></abstract><description>"
              '<heading level="1">BACKGROUND</heading>'
              "<p>The prior art is lacking.</p></description>"
              "<claims><claim><claim-text>1. A method comprising "
              "steps.</claim-text></claim></claims>"
              "</us-patent-application>"),
    )
    return _extract_docs(spark, sf_dir, payload, "uspto")


ORACLE_EXTRACT_USPTO = """
select doc_id, 'success' as status,
       '# Patent ' || doc_id || chr(10) || chr(10)
       || '### ABSTRACT' || chr(10) || chr(10) || text || chr(10) || chr(10)
       || '### BACKGROUND' || chr(10) || chr(10)
       || 'The prior art is lacking.' || chr(10) || chr(10)
       || '### CLAIMS' || chr(10) || chr(10)
       || '1. A method comprising steps.' as extracted_text
from documents
"""


def q_extract_odt(spark, sf_dir):
    """OpenDocument Text end-to-end: per-doc odt zip (heading + styled
    paragraph) synthesized in an Arrow-batched UDF, base64'd, routed
    through tool='odt' (engine/odfx.py style resolution)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mk(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        import base64
        import io
        import zipfile
        from xml.sax.saxutils import escape

        O = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
        T = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
        S = "urn:oasis:names:tc:opendocument:xmlns:style:1.0"
        FO = "urn:oasis:names:tc:opendocument:xmlns:xsl-fo-compatible:1.0"
        out = []
        for i, t in zip(doc_id, text):
            toks = (str(t).split() + ["x"])[:1]
            content = (
                f'<?xml version="1.0"?>'
                f'<office:document-content xmlns:office="{O}" '
                f'xmlns:text="{T}" xmlns:style="{S}" xmlns:fo="{FO}">'
                f"<office:automatic-styles>"
                f'<style:style style:name="B1" style:family="text">'
                f'<style:text-properties fo:font-weight="bold"/>'
                f"</style:style></office:automatic-styles>"
                f"<office:body><office:text>"
                f'<text:h text:outline-level="1">Doc {i}</text:h>'
                f"<text:p>{escape(str(t))} "
                f'<text:span text:style-name="B1">{escape(toks[0])}'
                f"</text:span></text:p>"
                f"</office:text></office:body></office:document-content>"
            )
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w") as z:
                z.writestr("content.xml", content)
            out.append(base64.b64encode(buf.getvalue()).decode())
        return pd.Series(out)

    _mk.__annotations__ = {"doc_id": pd.Series, "text": pd.Series,
                           "return": pd.Series}
    odt_b64 = pandas_udf(_mk, "string")
    payload = odt_b64(F.col("doc_id"), F.col("text"))
    return _extract_docs(spark, sf_dir, payload, "odt")


ORACLE_EXTRACT_ODT = """
with t as (
  select doc_id, text, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks
  from documents
)
select doc_id, 'success' as status,
       '## Doc ' || doc_id || chr(10) || chr(10) || text || '  **' || toks[1]
       || '**' as extracted_text
from t
"""


def q_extract_jats(spark, sf_dir):
    """JATS scientific-article XML end-to-end: front matter (title,
    author, abstract), a section with a paragraph and an inline tex-math
    formula, built JVM-side (engine/jatsx.py)."""
    payload = F.concat(
        F.lit('<article><front><article-meta><title-group><article-title>'
              'Study '),
        F.col("doc_id").cast("string"),
        F.lit("</article-title></title-group><contrib-group>"
              '<contrib contrib-type="author"><name>'
              "<given-names>Alex</given-names><surname>Doe</surname>"
              "</name></contrib></contrib-group><abstract><p>"),
        F.col("text"),
        F.lit("</p></abstract></article-meta></front><body>"
              "<sec><title>1. Results</title><p>The estimate "
              "<inline-formula><tex-math>$x^{2}$</tex-math>"
              "</inline-formula> holds.</p></sec></body></article>"),
    )
    return _extract_docs(spark, sf_dir, payload, "jats")


ORACLE_EXTRACT_JATS = """
select doc_id, 'success' as status,
       '# Study ' || doc_id || chr(10) || chr(10) || 'Alex Doe'
       || chr(10) || chr(10) || '## Abstract' || chr(10) || chr(10) || text
       || chr(10) || chr(10) || '## 1. Results' || chr(10) || chr(10)
       || 'The estimate $x^{2}$ holds.' as extracted_text
from documents
"""


def q_extract_boxnote(spark, sf_dir):
    """Box Notes (ProseMirror JSON) end-to-end: heading + marked runs +
    bullet list built as JSON JVM-side (engine/boxnotex.py)."""
    t = _tok
    payload = F.concat(
        F.lit('{"version": 1, "doc": {"type": "doc", "content": ['
              '{"type": "heading", "attrs": {"level": 1}, "content": '
              '[{"type": "text", "text": "Note '),
        F.col("doc_id").cast("string"),
        F.lit('"}]}, {"type": "paragraph", "content": '
              '[{"type": "text", "text": "'),
        F.col("text"),
        F.lit('"}]}, {"type": "bullet_list", "content": ['
              '{"type": "list_item", "content": [{"type": "paragraph", '
              '"content": [{"type": "text", "text": "'),
        t(1),
        F.lit('"}]}]}, {"type": "list_item", "content": '
              '[{"type": "paragraph", "content": [{"type": "text", '
              '"text": "'),
        t(2),
        F.lit('"}]}]}]}]}}'),
    )
    return _extract_docs(spark, sf_dir, payload, "boxnote")


ORACLE_EXTRACT_BOXNOTE = """
with t as (
  select doc_id, text, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks
  from documents
)
select doc_id, 'success' as status,
       '# Note ' || doc_id || chr(10) || chr(10) || text || chr(10) || chr(10)
       || '- ' || toks[1] || chr(10) || '- ' || toks[2] as extracted_text
from t
"""


def q_extract_ebcdic(spark, sf_dir):
    """EBCDIC end-to-end: per-doc COBOL fixed-width records (cp037 strings
    + a zoned decimal) built JVM-side? No — the bytes must be EBCDIC, so
    an Arrow-batched UDF encodes them; layout + data travel in one JSON
    payload (engine/ebcdicx.py)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mk(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        import base64
        import json as _json

        layout = {
            "description": "synthetic transcript ledger",
            "records": [{
                "name": "main",
                "fields": [
                    {"name": "word", "size": 12},
                    {"name": "amount", "size": 6, "type": "zoned_decimal",
                     "scale": 2},
                ],
            }],
        }
        out = []
        for i, t in zip(doc_id, text):
            toks = (str(t).split() + ["x", "y"])[:2]
            data = b""
            for k, w in enumerate(toks):
                data += w[:12].ljust(12).encode("cp037")
                # zoned decimal: doc_id*100 + k, positive (F zone)
                digits = f"{int(i) * 100 + k:06d}"
                zoned = bytes(0xF0 | int(d) for d in digits)
                data += zoned
            out.append(_json.dumps({
                "layout": layout,
                "data_b64": base64.b64encode(data).decode(),
            }))
        return pd.Series(out)

    _mk.__annotations__ = {"doc_id": pd.Series, "text": pd.Series,
                           "return": pd.Series}
    ebc = pandas_udf(_mk, "string")
    payload = ebc(F.col("doc_id"), F.col("text"))
    return _extract_docs(spark, sf_dir, payload, "ebcdic")


ORACLE_EXTRACT_EBCDIC = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks
  from documents
)
select doc_id, 'success' as status,
       'synthetic transcript ledger' || chr(10) || chr(10)
       || '| word | amount |' || chr(10) || '| - | - |' || chr(10)
       || '| ' || substr(toks[1], 1, 12) || ' | '
       || printf('%.2f', doc_id * 100 * 0.01) || ' |' || chr(10)
       || '| ' || substr(toks[2], 1, 12) || ' | '
       || printf('%.2f', (doc_id * 100 + 1) * 0.01) || ' |'
       as extracted_text
from t
"""


def q_extract_deepseek(spark, sf_dir):
    """DeepSeek-OCR annotated markdown (VLM grounding tokens,
    docling/utils/deepseekocr_utils.py): title/text/figure annotations with
    bbox dets; unannotated content dropped; figure captions attach before
    the image placeholder."""
    t = _tok
    nl = "\n"
    payload = F.concat(
        F.lit("<|ref|>title<|/ref|><|det|>[[10, 10, 500, 40]]<|/det|>" + nl
              + "# Doc "), F.col("doc_id").cast("string"),
        F.lit(nl + nl
              + "<|ref|>text<|/ref|><|det|>[[10, 50, 500, 90]]<|/det|>" + nl),
        F.col("text"),
        F.lit(nl + nl + "dangling unannotated line" + nl + nl
              + "<|ref|>figure<|/ref|><|det|>[[10, 100, 200, 200]]<|/det|>"
              + nl + nl
              + "<|ref|>figure_caption<|/ref|><|det|>"
              + "[[10, 210, 200, 230]]<|/det|>" + nl + "Figure 1. "),
        t(1),
    )
    return _extract_docs(spark, sf_dir, payload, "deepseek")


ORACLE_EXTRACT_DEEPSEEK = """
with t as (
  select doc_id, text, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks
  from documents
)
select doc_id, 'success' as status,
       '# Doc ' || doc_id || chr(10) || chr(10) || text || chr(10) || chr(10)
       || 'Figure 1. ' || toks[1] || chr(10) || chr(10) || '<!-- image -->'
       as extracted_text
from t
"""


_DOCX_STYLES = """<?xml version="1.0"?>
<w:styles xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
  <w:style w:type="paragraph" w:styleId="Heading1">
    <w:name w:val="heading 1"/>
  </w:style>
</w:styles>"""


def q_extract_docx(spark, sf_dir):
    """DOCX end-to-end: a per-doc WordprocessingML zip (styles.xml +
    document.xml with a Heading1 title, a plain run, a bold run, and a
    standalone OMML equation x_{id}^{2}) synthesized in an Arrow-batched
    UDF, base64'd into the text column, routed through tool='docx'
    (engine/docxx.py + engine/ommlx.py). The oracle predicts the
    serialized markdown independent of the zip bytes."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mk(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        import base64
        import io
        import zipfile
        from xml.sax.saxutils import escape

        W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
        M = "http://schemas.openxmlformats.org/officeDocument/2006/math"
        C = "http://schemas.openxmlformats.org/drawingml/2006/chart"
        A = "http://schemas.openxmlformats.org/drawingml/2006/main"
        RNS = ("http://schemas.openxmlformats.org/officeDocument/2006/"
               "relationships")
        out = []
        for i, t in zip(doc_id, text):
            toks = str(t).split()
            tok1 = toks[0] if toks else "x"
            doc = (
                f'<?xml version="1.0"?><w:document xmlns:w="{W}"><w:body>'
                f'<w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr>'
                f'<w:r><w:t>Doc {i}</w:t></w:r></w:p>'
                f'<w:p><w:r><w:t xml:space="preserve">{escape(str(t))} '
                f'</w:t></w:r>'
                f'<w:r><w:rPr><w:b/></w:rPr><w:t>{escape(tok1)}</w:t></w:r>'
                f"</w:p>"
                # standalone OMML equation → $$x_{id}^{2}$$ formula block
                f'<w:p><m:oMath xmlns:m="{M}"><m:sSubSup>'
                f"<m:e><m:r><m:t>x</m:t></m:r></m:e>"
                f"<m:sub><m:r><m:t>{i}</m:t></m:r></m:sub>"
                f"<m:sup><m:r><m:t>2</m:t></m:r></m:sup>"
                f"</m:sSubSup></m:oMath></w:p>"
                # native chart drawing → picture + kind text + tabulate
                # data table (engine/docxx.py emit_chart)
                f'<w:p><w:r><w:drawing xmlns:c="{C}" xmlns:r="{RNS}">'
                f'<c:chart r:id="rIdChart"/></w:drawing></w:r></w:p>'
                f"</w:body></w:document>"
            )
            chart = (
                f'<c:chartSpace xmlns:c="{C}" xmlns:a="{A}">'
                "<c:chart><c:plotArea><c:lineChart><c:ser>"
                "<c:cat><c:strRef><c:strCache>"
                '<c:pt idx="0"><c:v>c1</c:v></c:pt>'
                '<c:pt idx="1"><c:v>c2</c:v></c:pt>'
                "</c:strCache></c:strRef></c:cat>"
                "<c:tx><c:strRef><c:strCache>"
                '<c:pt idx="0"><c:v>S1</c:v></c:pt>'
                "</c:strCache></c:strRef></c:tx>"
                "<c:val><c:numRef><c:numCache>"
                '<c:pt idx="0"><c:v>1</c:v></c:pt>'
                '<c:pt idx="1"><c:v>2</c:v></c:pt>'
                "</c:numCache></c:numRef></c:val>"
                "</c:ser></c:lineChart></c:plotArea></c:chart>"
                "</c:chartSpace>"
            )
            rels = (
                '<?xml version="1.0"?><Relationships xmlns='
                '"http://schemas.openxmlformats.org/package/2006/'
                'relationships"><Relationship Id="rIdChart" Type="t" '
                'Target="charts/chart1.xml"/></Relationships>'
            )
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w") as z:
                z.writestr("word/styles.xml", _DOCX_STYLES)
                z.writestr("word/document.xml", doc)
                z.writestr("word/_rels/document.xml.rels", rels)
                z.writestr("word/charts/chart1.xml", chart)
            out.append(base64.b64encode(buf.getvalue()).decode())
        return pd.Series(out)

    _mk.__annotations__ = {"doc_id": pd.Series, "text": pd.Series,
                           "return": pd.Series}
    docx_b64 = pandas_udf(_mk, "string")
    payload = docx_b64(F.col("doc_id"), F.col("text"))
    return _extract_docs(spark, sf_dir, payload, "docx")


ORACLE_EXTRACT_DOCX = """
with t as (
  select doc_id, text, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks
  from documents
)
select doc_id, 'success' as status,
       '## Doc ' || doc_id || chr(10) || chr(10) || text || ' **' || toks[1]
       || '**' || chr(10) || chr(10) || '$$x_{' || doc_id || '}^{2}$$'
       || chr(10) || chr(10) || '<!-- image -->'
       || chr(10) || chr(10) || 'Line chart'
       || chr(10) || chr(10) || '|    |   S1 |'
       || chr(10) || '|----|------|'
       || chr(10) || '| c1 |    1 |'
       || chr(10) || '| c2 |    2 |'
       as extracted_text
from t
"""


def q_extract_xbrl(spark, sf_dir):
    """XBRL end-to-end: a per-doc instance+taxonomy zip (dei title facts,
    one textBlockItemType disclosure fact carrying escaped HTML with a
    colspan/<br> table, one monetary fact) synthesized in an
    Arrow-batched UDF, base64'd into the text column, routed through
    tool='xbrl' (engine/xbrlx.py). The oracle predicts the markdown:
    dei-derived title, extracted disclosure, rich-cell table, and the
    key-value-region marker."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mk(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        import base64
        import io
        import zipfile
        from xml.sax.saxutils import escape

        TNS = "http://example.com/t"
        xsd = (
            '<?xml version="1.0"?>'
            '<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema" '
            f'targetNamespace="{TNS}" '
            'xmlns:dtr-types="http://www.xbrl.org/dtr/type/2020-01-21" '
            'xmlns:xbrli="http://www.xbrl.org/2003/instance">'
            '<xs:element name="Disclosure" type="dtr-types:textBlockItemType"/>'
            '<xs:element name="Revenues" type="xbrli:monetaryItemType"/>'
            "</xs:schema>"
        )
        out = []
        for i, t in zip(doc_id, text):
            block = (
                f"<p>{str(t)}</p>"
                '<table><tr><td colspan="2">A<br/> B</td></tr>'
                "<tr><td>1</td><td>2</td></tr></table>"
            )
            inst = (
                '<?xml version="1.0"?>'
                '<xbrl xmlns="http://www.xbrl.org/2003/instance" '
                'xmlns:dei="http://xbrl.sec.gov/dei/2025" '
                f'xmlns:t="{TNS}">'
                '<context id="c0"><entity>'
                '<identifier scheme="cik">1</identifier></entity>'
                "<period><instant>2026-01-01</instant></period></context>"
                '<dei:DocumentType contextRef="c0">10-K</dei:DocumentType>'
                f'<dei:EntityRegistrantName contextRef="c0">ORG {i}'
                "</dei:EntityRegistrantName>"
                '<dei:DocumentPeriodEndDate contextRef="c0">2026-01-01'
                "</dei:DocumentPeriodEndDate>"
                f'<t:Disclosure contextRef="c0">{escape(block)}</t:Disclosure>'
                f'<t:Revenues contextRef="c0" unitRef="usd">{100 + int(i)}'
                "</t:Revenues>"
                "</xbrl>"
            )
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w") as z:
                z.writestr("instance.xml", inst)
                z.writestr("tax/t.xsd", xsd)
            out.append(base64.b64encode(buf.getvalue()).decode())
        return pd.Series(out)

    _mk.__annotations__ = {"doc_id": pd.Series, "text": pd.Series,
                           "return": pd.Series}
    xbrl_b64 = pandas_udf(_mk, "string")
    payload = xbrl_b64(F.col("doc_id"), F.col("text"))
    return _extract_docs(spark, sf_dir, payload, "xbrl")


ORACLE_EXTRACT_XBRL = """
select doc_id, 'success' as status,
       '# 10-K ORG ' || doc_id || ' 2026-01-01' || chr(10) || chr(10)
        || trim(regexp_replace(text, '\\s+', ' ', 'g')) || chr(10) || chr(10)
        || '| A B |  |' || chr(10) || '| - | - |' || chr(10)
        || '| 1 | 2 |' || chr(10) || chr(10)
        || '<!-- missing-key-value-item -->' as extracted_text
from documents
"""


def q_export_docling_json(spark, sf_dir):
    """Lossless JSON export sink + round-trip witness: extract → item
    table → DoclingDocument JSON (serialize_docling_json) → re-import
    (jsonx) → markdown. The oracle predicts the markdown, so the hash
    only matches if export+import preserve the document exactly."""
    import pandas as pd

    from docling_spark.operators.extract_ops import extract_turns

    payload = F.concat(
        F.lit("<h1>Doc "), F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), F.col("text"), F.lit("</p>"),
    )
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"), F.lit("user").alias("role"),
        F.lit(None).cast("timestamp").alias("ts"),
        payload.alias("text"), F.lit("html").alias("tool"),
    )

    def run(batches):
        from docling_spark.engine.jsonx import extract_docling_json
        from docling_spark.engine.serialize import serialize_docling_json
        from docling_spark.operators.export import clean_item

        for pdf in batches:
            ids, texts = [], []
            for conv_id, items in zip(pdf["conv_id"], pdf["items"]):
                its = [clean_item(it) for it in items]
                j = serialize_docling_json(its)
                t2, _items2, _m = extract_docling_json(j)
                ids.append(int(conv_id))
                texts.append(t2)
            yield pd.DataFrame({"doc_id": ids, "roundtrip_text": texts})

    return (
        extract_turns(d).select("conv_id", "items")
        .mapInPandas(run, "doc_id long, roundtrip_text string")
    )


ORACLE_EXPORT_DOCLING_JSON = """
select doc_id,
       '# Doc ' || doc_id || chr(10) || chr(10) || text as roundtrip_text
from documents
"""


def q_extract_chandra(spark, sf_dir):
    """chandra-ocr-2 VLM-output end-to-end: per-doc HTML-with-bbox divs
    (furniture page header, section header, body text) routed through
    tool='chandra' (engine/chandrax.py). The oracle predicts the
    markdown — the furniture div must NOT appear."""
    payload = F.concat(
        F.lit('<div data-bbox="0 0 1000 40" data-label="Page-Header">'
              "page "), F.col("doc_id").cast("string"), F.lit("</div>"),
        F.lit('<div data-bbox="10 50 900 80" data-label="Section-Header">'
              "<h2>Doc "), F.col("doc_id").cast("string"),
        F.lit("</h2></div>"),
        F.lit('<div data-bbox="10 90 900 400" data-label="Text"><p>'),
        F.col("text"), F.lit("</p></div>"),
    )
    return _extract_docs(spark, sf_dir, payload, "chandra")


ORACLE_EXTRACT_CHANDRA = """
select doc_id, 'success' as status,
       '## Doc ' || doc_id || chr(10) || chr(10)
       || trim(regexp_replace(text, '\\s+', ' ', 'g')) as extracted_text
from documents
"""


def q_extract_dots(spark, sf_dir):
    """dots.ocr VLM-output end-to-end: per-doc JSON layout array
    (furniture page header, section header, body text) routed through
    tool='dots' (engine/dotsx.py). The oracle predicts the markdown —
    the furniture element must NOT appear."""
    payload = F.concat(
        F.lit('[{"bbox": [0, 0, 1000, 30], "category": "Page-header", '
              '"text": "page '),
        F.col("doc_id").cast("string"), F.lit('"}, '),
        F.lit('{"bbox": [10, 50, 900, 80], '
              '"category": "Section-header", "text": "Doc '),
        F.col("doc_id").cast("string"), F.lit('"}, '),
        F.lit('{"bbox": [10, 90, 900, 400], "category": "Text", '
              '"text": "'),
        F.col("text"), F.lit('"}]'),
    )
    return _extract_docs(spark, sf_dir, payload, "dots")


ORACLE_EXTRACT_DOTS = """
select doc_id, 'success' as status,
       '## Doc ' || doc_id || chr(10) || chr(10)
       || trim(regexp_replace(text, '\\s+', ' ', 'g')) as extracted_text
from documents
"""


def q_picture_cell_join(spark, sf_dir):
    """Picture→table-cell containment join (readingorder_model.py:
    162-251 coverage ≥ 0.8 rule; also the wrapper→child containment
    shape) as a distributed equi-join + best-candidate window. Each doc
    carries a 2x2 cell grid, one picture fully inside a doc_id-derived
    cell, and a decoy straddling two cells at coverage 0.5 — the decoy
    must produce no row."""
    from docling_spark.operators.spatial import containment_join

    d = _docs(spark, sf_dir).select("doc_id")
    cells = d.select(
        "doc_id",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias(
            "parent_id"),
    ).select(
        "doc_id", "parent_id",
        ((F.col("parent_id") % 2) * 100).cast("double").alias("l"),
        ((F.col("parent_id") / 2).cast("int") * 100).cast("double")
        .alias("t"),
        ((F.col("parent_id") % 2) * 100 + 100).cast("double").alias("r"),
        ((F.col("parent_id") / 2).cast("int") * 100 + 100).cast("double")
        .alias("b"),
    )
    inside = d.select(
        "doc_id", F.lit(0).alias("child_id"),
        ((F.col("doc_id") % 2) * 100 + 10).cast("double").alias("l"),
        (((F.col("doc_id") / 2).cast("int") % 2) * 100 + 10)
        .cast("double").alias("t"),
        ((F.col("doc_id") % 2) * 100 + 60).cast("double").alias("r"),
        (((F.col("doc_id") / 2).cast("int") % 2) * 100 + 60)
        .cast("double").alias("b"),
    )
    straddle = d.select(
        "doc_id", F.lit(1).alias("child_id"),
        F.lit(50.0).alias("l"), F.lit(10.0).alias("t"),
        F.lit(150.0).alias("r"), F.lit(60.0).alias("b"),
    )
    pics = inside.unionByName(straddle)
    return containment_join(cells, pics)


ORACLE_PICTURE_CELL_JOIN = """
select doc_id,
       cast(0 as int) as child_id,
       cast((doc_id % 2) + 2 * ((doc_id // 2) % 2) as int) as parent_id,
       cast(1.0 as double) as coverage
from documents
"""


def q_caption_attach(spark, sf_dir):
    """Caption/footnote→element attachment (readingorder_model.py:
    631-649 el→captions / el→footnotes re-parenting; proximity rule
    re-expressed, see spatial.attach_nearest) as an equi-join +
    best-candidate window. Each doc carries a table and a picture host,
    a caption just below the table, a caption just above the picture, a
    footnote at the page bottom (nearest: picture), and a decoy with no
    horizontal overlap that must produce no row."""
    from docling_spark.operators.spatial import attach_nearest

    d = _docs(spark, sf_dir).select("doc_id")
    table = d.select(
        "doc_id", F.lit(0).alias("page"), F.lit(0).alias("host_id"),
        F.lit(0.0).alias("l"),
        (100 + (F.col("doc_id") % 5) * 8).cast("double").alias("t"),
        F.lit(100.0).alias("r"),
        (140 + (F.col("doc_id") % 5) * 8).cast("double").alias("b"),
    )
    picture = d.select(
        "doc_id", F.lit(0).alias("page"), F.lit(1).alias("host_id"),
        F.lit(0.0).alias("l"), F.lit(300.0).alias("t"),
        F.lit(100.0).alias("r"), F.lit(350.0).alias("b"),
    )
    cap_below_table = d.select(
        "doc_id", F.lit(0).alias("page"), F.lit(0).alias("attach_id"),
        F.lit(10.0).alias("l"),
        (144 + (F.col("doc_id") % 5) * 8 + F.col("doc_id") % 3)
        .cast("double").alias("t"),
        F.lit(90.0).alias("r"),
        (156 + (F.col("doc_id") % 5) * 8 + F.col("doc_id") % 3)
        .cast("double").alias("b"),
    )
    cap_above_picture = d.select(
        "doc_id", F.lit(0).alias("page"), F.lit(1).alias("attach_id"),
        F.lit(10.0).alias("l"),
        (282 - F.col("doc_id") % 4).cast("double").alias("t"),
        F.lit(90.0).alias("r"),
        (294 - F.col("doc_id") % 4).cast("double").alias("b"),
    )
    footnote = d.select(
        "doc_id", F.lit(0).alias("page"), F.lit(2).alias("attach_id"),
        F.lit(10.0).alias("l"), F.lit(400.0).alias("t"),
        F.lit(90.0).alias("r"), F.lit(410.0).alias("b"),
    )
    decoy = d.select(
        "doc_id", F.lit(0).alias("page"), F.lit(3).alias("attach_id"),
        F.lit(150.0).alias("l"), F.lit(100.0).alias("t"),
        F.lit(200.0).alias("r"), F.lit(110.0).alias("b"),
    )
    hosts = table.unionByName(picture)
    attachments = (
        cap_below_table.unionByName(cap_above_picture)
        .unionByName(footnote).unionByName(decoy)
    )
    return attach_nearest(hosts, attachments)


# gap arithmetic: caption 0 sits 4+(doc_id%3) below the table's bottom
# edge; caption 1 sits 6+(doc_id%4) above the picture's top edge (and
# ≥107 from the table, so the picture always wins); the footnote's
# nearest host is the picture at a constant 50. The decoy (attach 3)
# overlaps no host horizontally → no row.
ORACLE_CAPTION_ATTACH = """
select doc_id, cast(0 as int) as page, cast(0 as int) as attach_id,
       cast(0 as int) as host_id,
       cast(4 + doc_id % 3 as double) as gap, 'below' as pos
from documents
union all
select doc_id, cast(0 as int), cast(1 as int), cast(1 as int),
       cast(6 + doc_id % 4 as double), 'above'
from documents
union all
select doc_id, cast(0 as int), cast(2 as int), cast(1 as int),
       cast(50 as double), 'below'
from documents
"""


def q_picture_annotations(spark, sf_dir):
    """Picture classifier + description stage posts (stubbed-model
    boundary — scores/texts are columns, the reference's deterministic
    shells are the operators): per document two pictures are synthesized —
    pic 0 covers half the 612x792 page with engine scores chart
    0.5+(doc_id%50)/100 / logo 0.3, pic 1 is a 30x30 thumbnail with logo
    0.8 / chart 0.2. classify_picture_scores orders predictions
    (document_picture_classifier.py:170-210), describe_picture_gate
    applies area-threshold-then-allow/deny exactly as
    picture_description_base_model.py:79-97+143-174 (allow chart/diagram,
    deny logo, min_confidence 0.5 — pic 1 dies on area BEFORE its deny
    class is consulted), attach_descriptions binds the generated text to
    admitted pictures only."""
    from docling_spark.operators.picture_post import (
        attach_descriptions,
        classify_picture_scores,
        describe_picture_gate,
    )

    d = _docs(spark, sf_dir).select("doc_id")
    conf = (F.lit(0.5)
            + (F.col("doc_id") % 50).cast("double") / F.lit(100.0))
    scores = d.select("doc_id", F.explode(F.array(
        F.struct(F.lit(0).alias("item_idx"),
                 F.lit("chart").alias("class_name"),
                 conf.alias("confidence")),
        F.struct(F.lit(0).alias("item_idx"),
                 F.lit("logo").alias("class_name"),
                 F.lit(0.3).alias("confidence")),
        F.struct(F.lit(1).alias("item_idx"),
                 F.lit("logo").alias("class_name"),
                 F.lit(0.8).alias("confidence")),
        F.struct(F.lit(1).alias("item_idx"),
                 F.lit("chart").alias("class_name"),
                 F.lit(0.2).alias("confidence")),
    )).alias("s")).select("doc_id", "s.*")
    pics = d.select("doc_id", F.explode(F.array(
        F.struct(F.lit(0).alias("item_idx"),
                 F.lit(0.0).alias("l"), F.lit(0.0).alias("t"),
                 F.lit(306.0).alias("r"), F.lit(792.0).alias("b")),
        F.struct(F.lit(1).alias("item_idx"),
                 F.lit(10.0).alias("l"), F.lit(10.0).alias("t"),
                 F.lit(40.0).alias("r"), F.lit(40.0).alias("b")),
    )).alias("p")).select(
        "doc_id", "p.*",
        F.lit(612.0).alias("page_w"), F.lit(792.0).alias("page_h"))
    texts = d.select(
        "doc_id", F.lit(0).alias("item_idx"),
        F.concat(F.lit("pic of doc "),
                 F.col("doc_id").cast("string")).alias("text"))

    cls = classify_picture_scores(scores)
    gate = describe_picture_gate(
        pics, cls, picture_area_threshold=0.05,
        allow=["chart", "diagram"], deny=["logo"], min_confidence=0.5)
    att = attach_descriptions(gate, texts)
    return (
        gate.join(cls.select("doc_id", "item_idx", "top_class",
                             "top_confidence"), ["doc_id", "item_idx"])
        .join(att.select("doc_id", "item_idx", "description"),
              ["doc_id", "item_idx"], "left")
        .select("doc_id", "item_idx", "top_class", "top_confidence",
                F.col("describe").alias("described"),
                "skip_reason", "description")
    )


ORACLE_PICTURE_ANNOTATIONS = """
select doc_id, 0 as item_idx, 'chart' as top_class,
       0.5 + (doc_id % 50) / 100.0 as top_confidence,
       true as described, cast(null as varchar) as skip_reason,
       'pic of doc ' || doc_id as description
from documents
union all
select doc_id, 1, 'logo', 0.8, false, 'small_area', null
from documents
"""


def q_enrich_items(spark, sf_dir):
    """Pluggable enrichment stages over the items table
    (base_model.py:218 prepare_element gate + batched __call__;
    base_pipeline.py:107-129 driver loop): each doc contributes a text
    item and a code item; Column stages (token count, lang-ID, quality)
    fire only on textual labels, the model-shaped pandas stage
    (code_score) only on code items — nulls prove the gates."""
    from docling_spark.operators.enrich import default_stages, enrich_items

    d = _docs(spark, sf_dir)
    text_items = d.select(
        "doc_id", F.lit(0).alias("item_idx"),
        F.lit("text").alias("label"), F.col("text"),
    )
    code_items = d.select(
        "doc_id", F.lit(1).alias("item_idx"),
        F.lit("code").alias("label"),
        F.concat(F.lit("print("), F.col("doc_id").cast("string"),
                 F.lit(")")).alias("text"),
    )
    items = text_items.unionByName(code_items)
    # sentinel-coalesce the gated nullables: a nullable int column turns
    # float under the driver's pandas canonicalizer (the r1
    # extract_metrics_by_format lesson) — keep the contract null-free
    return enrich_items(items, default_stages()).select(
        "doc_id", "item_idx", "label",
        F.coalesce(F.col("n_tokens"), F.lit(-1)).cast("int")
        .alias("n_tokens"),
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        F.coalesce(F.col("quality"), F.lit(-1.0)).cast("double")
        .alias("quality"),
        F.coalesce(F.col("code_score"), F.lit(-1.0)).cast("double")
        .alias("code_score"),
    )


# text-item formulas are the doc_stats kernels (same SQL mirrors);
# code_score replays the deterministic model stub: first md5 byte / 255
ORACLE_ENRICH_ITEMS = """
with t as (
  select doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') ltoks
  from documents
),
s as (
  select doc_id,
    case when trim(text) = '' then 0 else len(toks) end as n_tokens,
    length(regexp_replace(trim(text), '\\s+', '', 'g')) as n_nospace,
    len(list_filter(ltoks, x -> x in ('the','and','of','to','a','in','is','it','that'))) as hits_en,
    len(list_filter(ltoks, x -> x in ('der','die','und','das','ist','nicht','ein','zu'))) as hits_de,
    len(list_filter(ltoks, x -> x in ('le','la','et','les','des','est','un','une'))) as hits_fr,
    len(list_filter(ltoks, x -> x in ('el','la','los','las','es','un','una','que'))) as hits_es
  from t
)
select doc_id, cast(0 as int) as item_idx, 'text' as label,
  cast(n_tokens as int) as n_tokens,
  case
    when hits_en > 0 and hits_en = greatest(hits_en, hits_de, hits_fr, hits_es) then 'en'
    when hits_de > 0 and hits_de = greatest(hits_en, hits_de, hits_fr, hits_es) then 'de'
    when hits_fr > 0 and hits_fr = greatest(hits_en, hits_de, hits_fr, hits_es) then 'fr'
    when hits_es > 0 and hits_es = greatest(hits_en, hits_de, hits_fr, hits_es) then 'es'
    else 'und' end as lang,
  round((
      least(n_tokens / 20.0, 1.0)
      + least(case when n_tokens > 0 then hits_en::double / n_tokens else 0.0 end * 5.0, 1.0)
      + case when (case when n_tokens > 0 then n_nospace::double / n_tokens else 0.0 end)
              between 2.0 and 12.0 then 1.0 else 0.0 end
    ) / 3.0, 6) as quality,
  cast(-1.0 as double) as code_score
from s
union all
select doc_id, cast(1 as int), 'code',
  cast(-1 as int), '', cast(-1.0 as double),
  round(('0x' || substr(md5('print(' || doc_id || ')'), 1, 2))::int / 255.0, 6)
from documents
"""


def q_curation_funnel(spark, sf_dir):
    """Composed training-data curation funnel over the documents table:
    quality gate → language gate → length gate → exact-dedup keep-first,
    one verdict row per document. One fingerprint-hash shuffle total; the
    oracle replays the identical formulas and running-count dedup in
    SQL."""
    from docling_spark.operators.textstats import curation_funnel

    return curation_funnel(_docs(spark, sf_dir))


ORACLE_CURATION_FUNNEL = """
with t as (
  select doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') ltoks
  from documents
),
s as (
  select doc_id, text,
    case when trim(text) = '' then 0 else len(toks) end as n_tokens,
    length(regexp_replace(trim(text), '\\s+', '', 'g')) as n_nospace,
    len(list_filter(ltoks, x -> x in ('the','and','of','to','a','in','is','it','that'))) as hits_en,
    len(list_filter(ltoks, x -> x in ('der','die','und','das','ist','nicht','ein','zu'))) as hits_de,
    len(list_filter(ltoks, x -> x in ('le','la','et','les','des','est','un','une'))) as hits_fr,
    len(list_filter(ltoks, x -> x in ('el','la','los','las','es','un','una','que'))) as hits_es
  from t
),
q as (
  select doc_id,
    n_tokens,
    round((
        least(n_tokens / 20.0, 1.0)
        + least(case when n_tokens > 0 then hits_en::double / n_tokens else 0.0 end * 5.0, 1.0)
        + case when (case when n_tokens > 0 then n_nospace::double / n_tokens else 0.0 end)
                between 2.0 and 12.0 then 1.0 else 0.0 end
      ) / 3.0, 6) as quality,
    case
      when hits_en > 0 and hits_en = greatest(hits_en, hits_de, hits_fr, hits_es) then 'en'
      when hits_de > 0 and hits_de = greatest(hits_en, hits_de, hits_fr, hits_es) then 'de'
      when hits_fr > 0 and hits_fr = greatest(hits_en, hits_de, hits_fr, hits_es) then 'fr'
      when hits_es > 0 and hits_es = greatest(hits_en, hits_de, hits_fr, hits_es) then 'es'
      else 'und' end as lang_pred,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) as fingerprint
  from s
),
r as (
  select *,
    sum(case when quality >= 0.5 and lang_pred = 'en'
              and n_tokens between 5 and 100000 then 1 else 0 end)
      over (partition by fingerprint order by doc_id
            rows between unbounded preceding and current row) as elig_rank
  from q
)
select doc_id,
  case
    when quality < 0.5 then 'low_quality'
    when lang_pred <> 'en' then 'non_en'
    when n_tokens not between 5 and 100000 then 'length'
    when elig_rank > 1 then 'exact_dup'
    else 'kept' end as stage,
  quality, n_tokens
from r
"""


def q_extract_mets(spark, sf_dir):
    """METS-GBS end-to-end: a per-doc tar.gz (METS manifest with one
    coordOCR page + the hOCR file carrying the doc text as ocr_line
    spans) synthesized in an Arrow-batched UDF, base64'd, routed through
    tool='mets_gbs' (engine/metsx.py → layoutx reading order). The
    oracle predicts the extracted text."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mk(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        import base64
        import io
        import tarfile
        from xml.sax.saxutils import escape

        out = []
        for i, t in zip(doc_id, text):
            norm = " ".join(str(t).split())
            mets = (
                '<METS:mets xmlns:METS="http://www.loc.gov/METS/" '
                'xmlns:xlink="http://www.w3.org/1999/xlink" '
                'PROFILE="gbs">'
                '<METS:fileSec>'
                '<METS:fileGrp USE="coordOCR">'
                '<METS:file ID="OCR1" MIMETYPE="text/html">'
                '<METS:FLocat xlink:href="p1.html"/></METS:file>'
                "</METS:fileGrp></METS:fileSec>"
                '<METS:structMap><METS:div TYPE="page" ORDER="1">'
                '<METS:fptr FILEID="OCR1"/></METS:div></METS:structMap>'
                "</METS:mets>"
            )
            hocr = (
                "<html><body>"
                "<div class='ocr_page' title='bbox 0 0 1000 1400'>"
                "<span class='ocr_line' "
                "title='bbox 100 100 900 140;x_wconf 97'>"
                f"{escape(norm)}</span>"
                "</div></body></html>"
            )
            buf = io.BytesIO()
            with tarfile.open(fileobj=buf, mode="w:gz") as tar:
                for name, data in (("book.xml", mets.encode()),
                                   ("p1.html", hocr.encode())):
                    info = tarfile.TarInfo(name)
                    info.size = len(data)
                    tar.addfile(info, io.BytesIO(data))
            out.append(base64.b64encode(buf.getvalue()).decode())
        return pd.Series(out)

    _mk.__annotations__ = {"doc_id": pd.Series, "text": pd.Series,
                           "return": pd.Series}
    mets_b64 = pandas_udf(_mk, "string")
    payload = mets_b64(F.col("doc_id"), F.col("text"))
    return _extract_docs(spark, sf_dir, payload, "mets_gbs")


ORACLE_EXTRACT_METS = """
select doc_id, 'success' as status,
       trim(regexp_replace(text, '\\s+', ' ', 'g')) as extracted_text
from documents
"""


def q_export_vtt(spark, sf_dir):
    """Transcript-native VTT sink: the synthetic 3-turn conversations run
    through the extraction pipeline, then conversations_to_vtt folds the
    per-turn extracted text into one WEBVTT document per conversation
    (cue per turn, <v role> voice spans). The oracle predicts the full
    VTT string."""
    from docling_spark.operators.export import conversations_to_vtt
    from docling_spark.operators.extract_ops import extract_turns

    ext = extract_turns(_synth_transcripts(spark, sf_dir))
    return conversations_to_vtt(
        ext.select("conv_id", "turn_idx", "role",
                   F.col("extracted_text").alias("text")))


ORACLE_EXPORT_VTT = """
with t as (
  select doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) as norm
  from documents
)
select 'conv' || lpad(doc_id::varchar, 8, '0') as conv_id,
       'WEBVTT' || chr(10) || chr(10) ||
       '00:00:00.000 --> 00:00:05.000' || chr(10) ||
       '<v user>' || norm || chr(10) || chr(10) ||
       '00:00:05.000 --> 00:00:10.000' || chr(10) ||
       '<v assistant># Document ' || doc_id || '  ' || norm
       || chr(10) || chr(10) ||
       '00:00:10.000 --> 00:00:15.000' || chr(10) ||
       '<v tool>``` {"doc": ' || doc_id || ', "status": "ok"} ```'
       as vtt_text,
       cast(3 as bigint) as n_cues
from t
"""


def q_extract_doclang(spark, sf_dir):
    """DocLang end-to-end: a per-doc <doclang> XML payload (heading,
    text, 2x2 table in the fcel/nl cell grammar) routed through
    tool='doclang' (engine/doclangx.py). The oracle predicts the
    serialized markdown."""
    payload = F.concat(
        F.lit("<doclang><heading>Doc "), F.col("doc_id").cast("string"),
        F.lit("</heading><text>"), F.col("text"), F.lit("</text>"),
        F.lit("<table><fcel/><text>id</text><fcel/><text>"),
        F.col("doc_id").cast("string"),
        F.lit("</text><nl/><fcel/><text>lang</text><fcel/><text>"),
        F.col("lang"),
        F.lit("</text><nl/></table></doclang>"),
    )
    return _extract_docs(spark, sf_dir, payload, "doclang")


ORACLE_EXTRACT_DOCLANG = """
select doc_id, 'success' as status,
       '# Doc ' || doc_id || chr(10) || chr(10) || text || chr(10) ||
       chr(10) ||
       '| id | ' || doc_id || ' |' || chr(10) ||
       '| - | - |' || chr(10) ||
       '| lang | ' || lang || ' |' as extracted_text
from documents
"""


def q_export_html(spark, sf_dir):
    """HTML export sink + round-trip witness: extract → item table →
    standalone HTML (serialize_html) → re-extract with the HTML engine →
    markdown. The oracle predicts the markdown, so the hash only matches
    if the export is structurally faithful (headings, paragraphs, lists
    survive the html→items→html→items cycle)."""
    import pandas as pd

    from docling_spark.operators.extract_ops import extract_turns

    payload = F.concat(
        F.lit("<h1>Doc "), F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), F.col("text"),
        F.lit("</p><ul><li>first</li><li>second</li></ul>"),
    )
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"), F.lit("user").alias("role"),
        F.lit(None).cast("timestamp").alias("ts"),
        payload.alias("text"), F.lit("html").alias("tool"),
    )

    def run(batches):
        from docling_spark.engine.htmlx import extract_html
        from docling_spark.engine.serialize import serialize_html
        from docling_spark.operators.export import clean_item

        for pdf in batches:
            ids, texts = [], []
            for conv_id, items in zip(pdf["conv_id"], pdf["items"]):
                its = [clean_item(it) for it in items]
                html = serialize_html(its)
                t2, _items2 = extract_html(html)
                ids.append(int(conv_id))
                texts.append(t2)
            yield pd.DataFrame({"doc_id": ids, "roundtrip_text": texts})

    return (
        extract_turns(d).select("conv_id", "items")
        .mapInPandas(run, "doc_id long, roundtrip_text string")
    )


ORACLE_EXPORT_HTML = """
select doc_id,
       '# Doc ' || doc_id || chr(10) || chr(10) || text
       || chr(10) || chr(10) || '- first' || chr(10) || '- second'
       as roundtrip_text
from documents
"""


def q_heading_levels(spark, sf_dir):
    """Numbering-marker heading hierarchy (heading_hierarchy_model.py:
    87-175): chapter/roman/arabic/dotted/alpha families classified by JVM
    regexps, single-letter Roman ambiguity resolved doc-wide by a window,
    levels compressed per doc by dense_rank. 'I. Preface' resolves to
    Roman because 'II. History' provides unambiguous evidence."""
    from docling_spark.operators.heading_levels import assign_numbering_levels

    t = _tok
    texts = F.array(
        F.concat(F.lit("Chapter "), F.col("doc_id").cast("string")),
        F.lit("I. Preface"),
        F.lit("II. History"),
        F.concat(F.lit("1. Overview "), t(1)),
        F.lit("1.1 Scope"),
        F.concat(F.lit("1.2 Terms "), t(2)),
        F.lit("2. Methods"),
        F.lit("A. Annex"),
        F.lit("Closing notes"),
    )
    h = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(texts).alias("heading_idx", "text")
    )
    out = assign_numbering_levels(h)
    return out.select("doc_id", "heading_idx", "family", "num_level")


ORACLE_HEADING_LEVELS = """
select doc_id, u.heading_idx, u.family, u.num_level
from documents,
lateral (
  select * from (values
    (0, 'chapter', 1), (1, 'roman_u', 2), (2, 'roman_u', 2),
    (3, 'arabic', 3), (4, 'dotted', 4), (5, 'dotted', 4),
    (6, 'arabic', 3), (7, 'alpha_u', 5), (8, 'none', 0)
  ) v(heading_idx, family, num_level)
) u
"""


def q_bookmark_join(spark, sf_dir):
    """PDF-outline → heading fuzzy join (heading_hierarchy_model.py:
    278-392): bookmark titles match headings with/without their leading
    numbering marker (exact → 1.0, containment → 0.92), one claim per
    side, matched bookmark depths compressed per doc to contiguous
    levels."""
    from docling_spark.operators.heading_levels import bookmark_heading_levels

    t = _tok
    d = _docs(spark, sf_dir)
    htexts = F.array(
        F.lit("1. Introduction"),
        F.concat(F.lit("1.1 Background "), t(1)),
        F.concat(F.lit("1.2 Conclusion "), t(2)),
    )
    headings = d.select(
        "doc_id", F.posexplode(htexts).alias("heading_idx", "text")
    )
    btitles = F.array(
        F.lit("Introduction"),                       # marker-stripped match
        F.concat(F.lit("Background "), t(1)),        # stripped-vs-raw match
        F.concat(F.lit("1.2 Conclusion "), t(2)),    # exact match
    )
    outline = d.select(
        "doc_id", F.posexplode(btitles).alias("bm_idx", "title")
    ).withColumn(
        "bm_level",
        F.when(F.col("bm_idx") == 0, F.lit(0)).otherwise(F.lit(1)),
    )
    return bookmark_heading_levels(headings, outline)


ORACLE_BOOKMARK_JOIN = """
select doc_id, u.heading_idx, u.level
from documents,
lateral (
  select * from (values (0, 1), (1, 2), (2, 2)) v(heading_idx, level)
) u
"""


def q_extract_docling_json(spark, sf_dir):
    """JSON-Docling round-trip: a DoclingDocument JSON payload (title +
    paragraph + 2-item list, built JVM-side) deserialized by
    engine/jsonx.py and re-serialized to markdown — the reference's
    docling_json_backend surface (docling/backend/json/
    docling_json_backend.py)."""
    t = _tok

    def txt(i, label, text_col):
        return F.concat(
            F.lit(f'{{"self_ref": "#/texts/{i}", "parent": {{"$ref": "#/body"}}, '
                  f'"children": [], "content_layer": "body", '
                  f'"label": "{label}", "text": "'),
            text_col, F.lit('"}'),
        )

    payload = F.concat(
        F.lit('{"schema_name": "DoclingDocument", "version": "1.0", '
              '"body": {"self_ref": "#/body", "label": "unspecified", '
              '"name": "_root_", "content_layer": "body", "children": ['
              '{"$ref": "#/texts/0"}, {"$ref": "#/texts/1"}, '
              '{"$ref": "#/groups/0"}]}, "texts": ['),
        txt(0, "title", F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))),
        F.lit(", "),
        txt(1, "text", F.col("text")),
        F.lit(", "),
        txt(2, "list_item", t(1)),
        F.lit(", "),
        txt(3, "list_item", t(2)),
        F.lit('], "groups": [{"self_ref": "#/groups/0", '
              '"parent": {"$ref": "#/body"}, "label": "list", "name": "list", '
              '"content_layer": "body", "children": ['
              '{"$ref": "#/texts/2"}, {"$ref": "#/texts/3"}]}], '
              '"tables": [], "pictures": []}'),
    )
    return _extract_docs(spark, sf_dir, payload, "docling_json")


ORACLE_DOCLING_JSON = """
with t as (
  select doc_id, text, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks
  from documents
)
select doc_id, 'success' as status,
       '# Doc ' || doc_id || chr(10) || chr(10) || text || chr(10) || chr(10)
       || '- ' || toks[1] || chr(10) || '- ' || toks[2] as extracted_text
from t
"""


_EPUB_CONTAINER = """<?xml version="1.0"?>
<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:xmlns:container">
  <rootfiles><rootfile full-path="content.opf"
    media-type="application/oebps-package+xml"/></rootfiles>
</container>"""

_EPUB_OPF = """<?xml version="1.0"?>
<package xmlns="http://www.idpf.org/2007/opf" version="3.0" unique-identifier="id">
  <manifest>
    <item id="c1" href="ch1.xhtml" media-type="application/xhtml+xml"/>
    <item id="c2" href="ch2.xhtml" media-type="application/xhtml+xml"/>
  </manifest>
  <spine><itemref idref="c1"/><itemref idref="c2"/></spine>
</package>"""


def q_extract_epub(spark, sf_dir):
    """EPUB end-to-end: per-doc zip (container.xml → OPF spine → two XHTML
    chapters) synthesized in an Arrow-batched UDF, base64'd into the text
    column, routed through the real extraction operator (tool='epub' →
    engine/epubx.py spine walk → HTML delegation). The oracle predicts the
    serialized markdown independently of the zip bytes."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mk(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        import base64
        import io
        import zipfile

        out = []
        for i, t in zip(doc_id, text):
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w") as z:
                z.writestr("mimetype", "application/epub+zip")
                z.writestr("META-INF/container.xml", _EPUB_CONTAINER)
                z.writestr("content.opf", _EPUB_OPF)
                z.writestr(
                    "ch1.xhtml",
                    f"<html><body><h1>Book {i}</h1><p>{t}</p></body></html>",
                )
                z.writestr(
                    "ch2.xhtml",
                    f"<html><body><h2>Chapter Two</h2>"
                    f"<p>End of book {i}.</p></body></html>",
                )
            out.append(base64.b64encode(buf.getvalue()).decode())
        return pd.Series(out)

    _mk.__annotations__ = {"doc_id": pd.Series, "text": pd.Series,
                           "return": pd.Series}
    epub_b64 = pandas_udf(_mk, "string")
    payload = epub_b64(F.col("doc_id"), F.col("text"))
    return _extract_docs(spark, sf_dir, payload, "epub")


ORACLE_EXTRACT_EPUB = """
select doc_id, 'success' as status,
       '# Book ' || doc_id || chr(10) || chr(10) || text || chr(10) || chr(10)
       || '## Chapter Two' || chr(10) || chr(10)
       || 'End of book ' || doc_id || '.' as extracted_text
from documents
"""


def q_extract_asciidoc(spark, sf_dir):
    """AsciiDoc payload: title, section, list, fenced table — the regex
    line-parser backend end-to-end (asciidoc_backend.py semantics)."""
    t = _tok
    payload = F.concat(
        F.lit("= Guide "), F.col("doc_id").cast("string"),
        F.lit("\n\nabstract "), t(1), F.lit("\n\n== Usage\n\n* "), t(2),
        F.lit("\n* "), t(3),
        F.lit("\n\n|===\n|K |V\n|"), t(4), F.lit(" |"), t(5), F.lit("\n|===\n"),
    )
    return _extract_docs(spark, sf_dir, payload, "asciidoc")


ORACLE_ASCIIDOC = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks from documents
)
select doc_id, 'success' as status,
       '# Guide ' || doc_id || chr(10) || chr(10)
        || 'abstract ' || toks[1] || chr(10) || chr(10)
        || '## Usage' || chr(10) || chr(10)
        || '- ' || toks[2] || chr(10) || '- ' || toks[3] || chr(10) || chr(10)
        || '| K | V |' || chr(10) || '| - | - |' || chr(10)
        || '| ' || toks[4] || ' | ' || toks[5] || ' |' as extracted_text
from t
"""


def q_export_doctags(spark, sf_dir):
    """DocTags export over the html list+table payload: title, list group
    (one item per line), OTSL table tokens — grammar pinned by the
    reference's own doctags groundtruth corpus."""
    from docling_spark.operators.export import export_items
    from docling_spark.operators.extract_ops import extract_turns

    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    w = lambda i: F.element_at(toks, i)  # noqa: E731
    payload = F.concat(
        F.lit("<h1>Doc "), F.col("doc_id").cast("string"), F.lit("</h1>"),
        F.lit("<ul><li>"), w(1), F.lit("</li><li>"), w(2), F.lit("</li></ul>"),
        F.lit("<table><tr><th>k</th><th>v</th></tr><tr><td>"), w(3),
        F.lit("</td><td>"), w(4), F.lit("</td></tr></table>"),
    )
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"), F.lit("user").alias("role"),
        F.lit(None).cast("timestamp").alias("ts"),
        payload.alias("text"), F.lit("html").alias("tool"),
    )
    out = export_items(extract_turns(d), "doctags")
    return out.select(
        F.col("conv_id").cast("long").alias("doc_id"), "doctags"
    )


ORACLE_EXPORT_DOCTAGS = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks from documents
)
select doc_id,
       '<doctag><title>Doc ' || doc_id || '</title>' || chr(10)
        || '<unordered_list><list_item>' || toks[1] || '</list_item>' || chr(10)
        || '<list_item>' || toks[2] || '</list_item>' || chr(10)
        || '</unordered_list>' || chr(10)
        || '<otsl><ched>k<ched>v<nl><fcel>' || toks[3] || '<fcel>' || toks[4]
        || '<nl></otsl>' || chr(10) || '</doctag>' as doctags
from t
"""


# ---------------------------------------------------------------------------
# lineage / metrics sidecar + simhash near-pairs
# ---------------------------------------------------------------------------

def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary top-20 by frequency (ties by token) — the
    explode → partial-agg → global-rank shape."""
    from docling_spark.operators.textstats import vocab_topk

    return vocab_topk(_docs(spark, sf_dir), k=20)


ORACLE_VOCAB_TOPK = """
with toks as (
  select unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                             ' ')) as token
  from documents
),
c as (select token, count(*) as n from toks where token != '' group by token),
r as (select token, n,
             cast(row_number() over (order by n desc, token) as int) as rank
      from c)
select rank, token, n from r where rank <= 20
"""


def q_rolling_fingerprint(spark, sf_dir):
    """Order-sensitive document fingerprint: polynomial rolling hash over
    normalized tokens, JVM-side fold."""
    from docling_spark.operators.textstats import rolling_fingerprint

    return _docs(spark, sf_dir).select(
        "doc_id", rolling_fingerprint(F.col("text")).alias("rfp")
    )


ORACLE_ROLLING_FINGERPRINT = """
with t as (
  select doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') toks
  from documents
),
h as (
  select doc_id,
         list_transform(toks,
           x -> ('0x' || substr(md5(x), 1, 7))::bigint) as ints
  from t
)
select doc_id,
       list_reduce(list_prepend(0::bigint, ints),
                   (a, b) -> (a * 31 + b) % 2147483647) as rfp
from h
"""


def q_confidence_report(spark, sf_dir):
    """Per-document confidence: pdfish payloads whose second line carries
    0/3/6 fragmented-word patterns (by doc_id % 3) → parse_score =
    10%-quantile of cell quality (page_preprocessing semantics) → quality
    grade via the reference's thresholds (base_models.py:609-628)."""
    from docling_spark.operators.extract_ops import extract_turns
    from docling_spark.operators.textstats import score_to_grade

    frag = F.element_at(
        F.array(
            F.lit(""),
            F.lit(" a/b.c/d.e f/g.h/i.j k/l.m/n.o"),
            F.lit(" a/b.c/d.e f/g.h/i.j k/l.m/n.o p/q.r/s.t u/v.w/x.y z/a.b/c.d"),
        ),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    payload = F.concat_ws(
        "\n",
        _jcell("10, 40, 190, 60",
               F.concat(F.lit("Title "), F.col("doc_id").cast("string")),
               "0.98", "title"),
        _jcell("10, 100, 190, 110", F.concat(_tok(1), F.lit(" clean line")),
               "0.9", "text"),
        _jcell("10, 120, 190, 130", F.concat(_tok(2), frag), "0.9", "text"),
    )
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"), F.lit("user").alias("role"),
        F.lit(None).cast("timestamp").alias("ts"),
        payload.alias("text"), F.lit("pdfish").alias("tool"),
    )
    out = extract_turns(d)
    score = F.round(F.col("metrics.parse_score"), 6)
    return out.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        score.alias("parse_score"),
        score_to_grade(score).alias("grade"),
    )


ORACLE_CONFIDENCE_REPORT = """
select doc_id,
       round(case cast(doc_id % 3 as int)
             when 0 then 1.0 when 1 then 0.7 else 0.4 end, 6) as parse_score,
       case cast(doc_id % 3 as int)
            when 0 then 'excellent' when 1 then 'fair' else 'poor' end as grade
from documents
"""


def q_extract_metrics_by_format(spark, sf_dir):
    """The metrics sidecar rolled up by format: every extraction row
    carries per-turn metrics (pages parsed, boilerplate ratio, item
    count); the sidecar aggregation is a plain groupBy over them."""
    from docling_spark.operators.extract_ops import extract_turns

    m = F.col("doc_id") % 4
    payload = (
        F.when(m == 0, F.concat(
            F.lit("<html><body><div>boilerplate nav</div><h1>Document "),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"), F.col("text"),
            F.lit("</p><footer>fine print</footer></body></html>")))
        .when(m == 1, F.concat(
            F.lit("# Doc "), F.col("doc_id").cast("string"), F.lit("\n\n"),
            F.col("text"), F.lit("\n\n- "), _tok(1), F.lit("\n- "), _tok(2)))
        .when(m == 2, F.concat(
            F.lit("k;v\n"), _tok(1), F.lit(";"), _tok(2), F.lit("\n"),
            _tok(3), F.lit(";"), _tok(4)))
        .otherwise(F.col("text"))
    )
    tool = (
        F.when(m == 0, F.lit("html")).when(m == 1, F.lit("md"))
        .when(m == 2, F.lit("csv")).otherwise(F.lit(""))
    )
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"), F.lit("user").alias("role"),
        F.lit(None).cast("timestamp").alias("ts"),
        payload.alias("text"), tool.alias("tool"),
    )
    out = extract_turns(d)
    return out.groupBy("format").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("metrics.n_items")).cast("long").alias("total_items"),
        F.round(F.avg(F.col("metrics.boilerplate_ratio")), 6)
        .cast("double").alias("avg_boilerplate"),
        F.sum(F.col("metrics.pages_parsed")).cast("long").alias("pages_parsed"),
        F.sum(F.when(F.col("status") != "success", 1).otherwise(0))
        .cast("long").alias("failures"),
    )


# engine-derived constants per format (asserted in tests/test_extract_job):
# html heading payload → 4 items, boilerplate 0.5; md → 5 items; csv/plain → 1
ORACLE_METRICS_BY_FORMAT = """
with f as (
  select doc_id,
         case cast(doc_id % 4 as int) when 0 then 'html' when 1 then 'md'
              when 2 then 'csv' else 'plain' end as format
  from documents
)
select format, cast(count(*) as bigint) as n_docs,
       cast(sum(case format when 'html' then 4 when 'md' then 5 else 1 end)
            as bigint) as total_items,
       cast(round(avg(case format when 'html' then 0.5 else 0.0 end), 6)
            as double) as avg_boilerplate,
       cast(count(*) as bigint) as pages_parsed,
       cast(0 as bigint) as failures
from f group by format
"""


def q_simhash_near_pairs(spark, sf_dir):
    """Near-duplicate detection by simhash Hamming distance ≤ 3 over
    60-bit signatures, exact-within-cap via pigeonhole banding (4 chunks
    of 15 bits — 32768 buckets per chunk, vs 256 under a 32/8 split whose
    pair volume grew as m²/256) with each (chunk_id, chunk) capped at its
    64 smallest-doc_id representatives before the grouped pair step
    (``dedup._bucket_pairs``: one exchange on the chunk key, no join).
    The oracle states the same pair set as a capped self-join. Never
    n²."""
    from docling_spark.operators.dedup import simhash, simhash_near_pairs

    return simhash_near_pairs(
        simhash(_docs(spark, sf_dir), bits=60),
        max_hamming=3, bits=60, chunks=4, max_bucket=64,
    )


def _simhash_near_oracle(bits: int = 60, chunks: int = 4,
                         max_hamming: int = 3, max_bucket: int = 64) -> str:
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    chunk_vals = ", ".join(f"({c})" for c in range(chunks))
    return f"""
with {_simhash_sig_sql(bits)},
banded as (
  select doc_id, simhash, c.chunk_id,
         (simhash >> (c.chunk_id * {chunk_bits})) & {mask} as chunk
  from sh, (values {chunk_vals}) c(chunk_id)
),
capped as (
  select doc_id, simhash, chunk_id, chunk from (
    select doc_id, simhash, chunk_id, chunk,
           row_number() over (partition by chunk_id, chunk
                              order by doc_id) as _rn
    from banded
  ) where _rn <= {max_bucket}
)
select distinct a.doc_id as doc_a, b.doc_id as doc_b,
       cast(bit_count(xor(a.simhash, b.simhash)) as int) as hamming
from capped a join capped b
  on a.chunk_id = b.chunk_id and a.chunk = b.chunk and a.doc_id < b.doc_id
where bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


ORACLE_SIMHASH_NEAR = _simhash_near_oracle()


def q_simhash_chunk_overflow(spark, sf_dir):
    """Visibility companion to the simhash chunk cap: which (chunk_id,
    chunk) populations exceed the cap and how many docs the cap drops.
    max_bucket=2 here so the sf-size corpus exercises real overflow rows;
    production pairs this (at the production cap) with every capped
    simhash_near_pairs run."""
    from docling_spark.operators.dedup import simhash, simhash_chunk_overflow

    return simhash_chunk_overflow(
        simhash(_docs(spark, sf_dir), bits=60),
        bits=60, chunks=4, max_bucket=2,
    )


def _simhash_overflow_oracle(bits: int = 60, chunks: int = 4,
                             max_bucket: int = 2) -> str:
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    chunk_vals = ", ".join(f"({c})" for c in range(chunks))
    return f"""
with {_simhash_sig_sql(bits)},
banded as (
  select doc_id, c.chunk_id,
         (simhash >> (c.chunk_id * {chunk_bits})) & {mask} as chunk
  from sh, (values {chunk_vals}) c(chunk_id)
)
select cast(chunk_id as int) as chunk_id, chunk,
       count(*) as n_docs, count(*) - {max_bucket} as n_dropped
from banded group by 1, 2 having count(*) > {max_bucket}
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def q_extract_image(spark, sf_dir):
    """Image end-to-end: a per-doc animated GIF (spec-constructed bytes:
    logical screen w=16+id%240, h=9+id%135, frames=1+id%4) base64'd into
    the text column and routed by magic-prefix sniffing (NO tool hint) to
    engine/imagex.py — the reference image backend's page-per-frame,
    no-OCR, full-page-bitmap semantics (docling/backend/
    image_backend.py:126-199, 74-90). Dimensions are re-read from the
    payload bytes by the pure-Python header parser on the multimodal
    decode path. The oracle predicts pages/dims/markdown from the id
    arithmetic alone."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mk(doc_id: pd.Series) -> pd.Series:
        import base64
        import struct

        out = []
        for i in doc_id:
            i = int(i)
            w, h, frames = 16 + i % 240, 9 + i % 135, 1 + i % 4
            gif = b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"
            for _ in range(frames):
                gif += (b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
                        + b"\x00\x02\x01\x00\x00")
            gif += b"\x3b"
            out.append(base64.b64encode(gif).decode())
        return pd.Series(out)

    def _dims(text: pd.Series) -> pd.DataFrame:
        import base64

        from docling_spark.engine import imagex

        ws, hs = [], []
        for t in text:
            w, h = imagex.image_pages(base64.b64decode(t))[0]
            ws.append(w)
            hs.append(h)
        return pd.DataFrame({"width": ws, "height": hs})

    _mk.__annotations__ = {"doc_id": pd.Series, "return": pd.Series}
    _dims.__annotations__ = {"text": pd.Series, "return": pd.DataFrame}
    gif_b64 = pandas_udf(_mk, "string")
    dims_of = pandas_udf(_dims, "width int, height int")

    from docling_spark.operators.extract_ops import extract_turns

    d = _docs(spark, sf_dir).select(
        F.col("doc_id"), gif_b64(F.col("doc_id")).alias("text")
    )
    tr = d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.col("text"),
        F.lit("").alias("tool"),
    )
    # dims re-derived narrow (payload is a pure function of doc_id):
    # no join, no shuffle — the whole query is one map pipeline
    out = extract_turns(tr).withColumn(
        "dims", dims_of(gif_b64(F.col("conv_id").cast("long")))
    )
    return out.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        "status",
        F.col("format").alias("fmt"),
        F.col("metrics.pages_parsed").alias("n_pages"),
        F.col("dims.width").alias("width"),
        F.col("dims.height").alias("height"),
        "extracted_text",
    )


ORACLE_EXTRACT_IMAGE = """
select doc_id, 'success' as status, 'image' as fmt,
       cast(1 + doc_id % 4 as int) as n_pages,
       cast(16 + doc_id % 240 as int) as width,
       cast(9 + doc_id % 135 as int) as height,
       ltrim(repeat(chr(10) || chr(10) || '<!-- image -->',
                    cast(1 + doc_id % 4 as int)), chr(10))
           as extracted_text
from documents
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appx C style): docs where
    ``doc_id % 41 = 0`` stand in for the eval set; any document sharing an
    8-gram with them is dropped. Benchmark gram set is broadcast; the
    corpus side sees one semi-join + one anti-join, no cartesian."""
    from docling_spark.operators.curation import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 41 == 0).select("doc_id", "text")
    return decontaminate(docs, bench, n=8).select("doc_id", "lang", "n_chars")


ORACLE_DECONTAMINATE = """
with toks as (
  select doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') t
  from documents
),
grams as (
  select doc_id, md5(array_to_string(t[i:i+7], ' ')) as gh
  from (select doc_id, t,
               unnest(generate_series(1, greatest(len(t) - 7, 0))) as i
        from toks)
),
bad as (
  select distinct d.doc_id
  from grams d join (select distinct gh from grams where doc_id % 41 = 0) b
    using (gh)
)
select doc_id, lang, n_chars
from documents anti join bad using (doc_id)
"""


def q_scrub_pii(spark, sf_dir):
    """PII masking: deterministic synthetic emails/IPs/phones appended to
    each document, scrubbed with the RE2/Java-common regex chain. Pure
    regexp_replace — whole-stage codegen, no shuffle."""
    from docling_spark.operators.curation import scrub_pii

    payload = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit("."),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(" or call 555-123-4567 now"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id", scrub_pii(payload).alias("clean_text"))


ORACLE_SCRUB_PII = """
select doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        text || ' contact user' || doc_id || '@example.com from 10.0.'
             || cast(doc_id % 256 as varchar) || '.'
             || cast(doc_id % 100 as varchar) || ' or call 555-123-4567 now',
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
    '\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b', '<PHONE>', 'g') as clean_text
from documents
"""


def q_repetition_stats(spark, sf_dir):
    """Gopher repetition heuristics per document: duplicate-line fraction
    (pure per-row array math) + top word-2-gram coverage (explode →
    partial-agg groupBy). Payload plants a duplicated line on every third
    doc."""
    from docling_spark.operators.curation import (
        dup_line_fraction,
        top_bigram_stats,
    )

    nl = F.lit("\n")
    payload = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.col("text"), nl, _tok(1), nl, _tok(1)),
    ).otherwise(F.concat(F.col("text"), nl, _tok(1), nl, _tok(2)))
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("text"),
        dup_line_fraction(payload).alias("dup_line_frac"))
    top = top_bigram_stats(docs.select("doc_id", "text"))
    return docs.drop("text").join(top, "doc_id").select(
        "doc_id", "dup_line_frac", "top_gram",
        "top_count", "top_2gram_char_frac")


ORACLE_REPETITION_STATS = """
with toks as (
  select doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') t,
         length(regexp_replace(trim(lower(text)), '\\s+', '', 'g')) n_chars,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') rawt
  from documents
),
payload as (
  select doc_id,
         list_filter(list_transform(
           string_split(
             text || chr(10) || rawt[1] || chr(10)
                  || case when doc_id % 3 = 0 then rawt[1] else rawt[2] end,
             chr(10)),
           s -> trim(s)), s -> s <> '') as lines
  from documents join toks using (doc_id)
),
dup as (
  select doc_id,
         case when len(lines) > 0
              then round(1.0 - len(list_distinct(lines))::double / len(lines), 6)
              else 0.0 end as dup_line_frac
  from payload
),
grams as (
  select doc_id, n_chars, array_to_string(t[i:i+1], ' ') as g
  from (select doc_id, t, n_chars,
               unnest(generate_series(1, greatest(len(t) - 1, 0))) as i
        from toks)
),
counted as (select doc_id, n_chars, g, count(*) c from grams group by all),
mx as (select doc_id, max(c) mc from counted group by 1),
winners as (
  select c.doc_id, min(c.g) as top_gram,
         any_value(c.n_chars) as nch, any_value(mx.mc) as mc
  from counted c join mx on mx.doc_id = c.doc_id and c.c = mx.mc
  group by 1
)
select d.doc_id, d.dup_line_frac,
       coalesce(w.top_gram, '') as top_gram,
       cast(coalesce(w.mc, 0) as bigint) as top_count,
       coalesce(case when w.nch > 0
            then round(least(1.0, w.mc * length(regexp_replace(w.top_gram,
                 '\\s+', '', 'g')) / w.nch::double), 6)
            else 0.0 end, 0.0) as top_2gram_char_frac
from dup d left join winners w using (doc_id)
"""


def q_c4_line_clean(spark, sf_dir):
    """C4 cleaning recipe (Raffel et al. 2020 §2.2): line filter (terminal
    punctuation + ≥3 words + no "javascript") then page filter (no curly
    braces / "lorem ipsum", ≥5 sentences). All per-row JVM array work —
    zero shuffle. Payload plants a mix of good sentences, short lines,
    JS boilerplate, and a mod-5 curly-brace page so every rule fires."""
    from docling_spark.operators.curation import c4_kept_lines, c4_page_keep

    nl = F.lit("\n")
    payload = F.concat(
        F.col("text"), F.lit("."), nl,
        F.lit("This is a proper sentence with plenty of words."), nl,
        F.lit("too short."), nl,
        F.lit("Enable JavaScript and cookies to continue browsing now."), nl,
        F.lit("no terminal punctuation on this line at all"), nl,
        F.lit("Another good sentence ends right here!"), nl,
        F.lit("Does a question also survive the line filter?"), nl,
        F.lit('A quoted ending counts as terminal too."'),
        F.when(F.col("doc_id") % 5 == 0, F.lit("\nif (x) { return; }"))
        .otherwise(F.lit("")),
    )
    docs = _docs(spark, sf_dir).select("doc_id", payload.alias("page"))
    kept = c4_kept_lines(F.col("page"))
    out = docs.select(
        "doc_id",
        F.size(F.filter(
            F.transform(F.split(F.col("page"), "\n"), lambda l: F.trim(l)),
            lambda t: t != "")).alias("n_lines_in"),
        F.size(kept).alias("n_lines_kept"),
        F.array_join(kept, "\n").alias("clean_text"),
    )
    return out.select(
        "doc_id", "n_lines_in", "n_lines_kept",
        F.length("clean_text").alias("clean_len"),
        c4_page_keep(
            F.concat_ws("\n", F.col("clean_text"),
                        F.when(F.col("doc_id") % 5 == 0,
                               F.lit("if (x) { return; }"))),
            F.col("clean_text"),
        ).alias("page_keep"),
    )


ORACLE_C4_LINE_CLEAN = """
with pages as (
  select doc_id,
         text || '.' || chr(10)
           || 'This is a proper sentence with plenty of words.' || chr(10)
           || 'too short.' || chr(10)
           || 'Enable JavaScript and cookies to continue browsing now.'
           || chr(10)
           || 'no terminal punctuation on this line at all' || chr(10)
           || 'Another good sentence ends right here!' || chr(10)
           || 'Does a question also survive the line filter?' || chr(10)
           || 'A quoted ending counts as terminal too."'
           || case when doc_id % 5 = 0
                   then chr(10) || 'if (x) { return; }' else '' end as page
  from documents
),
lines as (
  select doc_id, page,
         list_transform(string_split(page, chr(10)), l -> trim(l)) as ls
  from pages
),
kept as (
  select doc_id, page,
         len(list_filter(ls, t -> t <> '')) as n_lines_in,
         list_filter(ls, t ->
           regexp_matches(t, '[.!?"]$')
           and len(string_split_regex(t, '\\s+')) >= 3
           and not contains(lower(t), 'javascript')) as keep_ls
  from lines
),
clean as (
  select doc_id, n_lines_in,
         len(keep_ls) as n_lines_kept,
         array_to_string(keep_ls, chr(10)) as clean_text,
         case when doc_id % 5 = 0
              then array_to_string(keep_ls, chr(10)) || chr(10)
                   || 'if (x) { return; }'
              else array_to_string(keep_ls, chr(10)) end as page_after
  from kept
)
select doc_id, n_lines_in, n_lines_kept,
       length(clean_text) as clean_len,
       (not contains(lower(page_after), '{')
        and not contains(lower(page_after), '}')
        and not contains(lower(page_after), 'lorem ipsum')
        and len(regexp_extract_all(clean_text, '[.!?]')) >= 5) as page_keep
from clean
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language hash-mod sampling: en kept at 50%, de at
    25%, everything else at 10%. No RNG — a row's fate is a pure function
    of its key, so the sample is identical on any cluster size and both
    engines."""
    from docling_spark.operators.curation import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), "lang", {"en": 0.5, "de": 0.25}, default=0.1,
    ).select("doc_id", "lang")


ORACLE_STRATIFIED_SAMPLE = """
select doc_id, lang
from documents
where ('0x' || substr(md5(cast(doc_id as varchar)), 1, 8))::bigint % 10000
      < case lang when 'en' then 5000 when 'de' then 2500 else 1000 end
"""


def q_paragraph_dedup(spark, sf_dir):
    """CCNet-style paragraph dedup: every doc carries its own text plus a
    corpus-wide boilerplate paragraph and a mod-7 shared paragraph; only
    the globally-first occurrence of each normalized paragraph survives,
    and docs reassemble in original order."""
    from docling_spark.operators.curation import paragraph_dedup

    payload = F.concat_ws(
        "\n\n",
        F.col("text"),
        F.lit("shared boilerplate footer paragraph"),
        F.concat(F.lit("group marker "), (F.col("doc_id") % 7).cast("string")),
    )
    docs = _docs(spark, sf_dir).select("doc_id", payload.alias("text"))
    return paragraph_dedup(docs)


ORACLE_PARAGRAPH_DEDUP = """
with p0 as (
  select doc_id,
         list_filter(list_transform(
           string_split_regex(
             text || chr(10) || chr(10)
                  || 'shared boilerplate footer paragraph'
                  || chr(10) || chr(10)
                  || 'group marker ' || cast(doc_id % 7 as varchar),
             '\\n\\s*\\n'),
           s -> trim(s)), s -> s <> '') as ps
  from documents
),
paras as (
  select doc_id, i - 1 as para_idx, ps[i] as para
  from (select doc_id, ps, unnest(generate_series(1, len(ps))) as i from p0)
),
ranked as (
  select doc_id, para_idx, para,
         row_number() over (
           partition by md5(trim(regexp_replace(lower(para), '\\s+', ' ', 'g')))
           order by doc_id, para_idx) as rk
  from paras
)
select doc_id,
       coalesce(string_agg(case when rk = 1 then para end,
                           chr(10) || chr(10) order by para_idx),
                '') as clean_text,
       cast(count(*) as bigint) as n_paras,
       cast(sum(case when rk = 1 then 1 else 0 end) as bigint) as n_kept
from ranked group by doc_id
"""


def q_unigram_logprob(spark, sf_dir):
    """Corpus-unigram LM surprisal per document (CCNet quality-signal
    analog): token counts shuffle once, join back, per-doc mean."""
    from docling_spark.operators.curation import unigram_logprob

    return unigram_logprob(_docs(spark, sf_dir))


ORACLE_UNIGRAM_LOGPROB = """
with toks as (
  select doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) as token
  from documents
),
toks2 as (select * from toks where token <> ''),
counts as (select token, count(*) as n from toks2 group by 1),
tot as (select sum(n) as total from counts),
agg as (
  select doc_id,
         round(avg(-log10(n::double / total)), 6) as mean_surprisal,
         cast(count(*) as bigint) as n_tokens
  from toks2 join counts using (token) cross join tot
  group by doc_id
)
-- totality mirror: token-less documents keep an accounting row
select d.doc_id, a.mean_surprisal,
       coalesce(a.n_tokens, 0) as n_tokens
from documents d left join agg a using (doc_id)
"""


def q_pack_sequences(spark, sf_dir):
    """Training-sequence packing: shard by hashed doc id, pack each shard
    in doc-id order by cumulative-token bucketing against a 512-token
    budget. Exact greedy first-fit would need a sequential scan (driver
    loop or single-partition window — 100 TB killers); cumulative
    bucketing is the distributed equivalent with at-most-one-doc
    overflow per sequence."""
    from docling_spark.operators.curation import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget_tokens=512,
                          shard_mod=16)


ORACLE_PACK_SEQUENCES = """
with t as (
  select doc_id,
         ('0x' || substr(md5('shard:' || cast(doc_id as varchar)), 1, 15))::bigint
           % 16 as shard,
         case when trim(text) = '' then 0
              else len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) end as n_tokens
  from documents
),
c as (
  select *, sum(n_tokens) over (
    partition by shard order by doc_id
    rows between unbounded preceding and current row) as cum_after
  from t
)
select shard, cast(floor((cum_after - n_tokens) / 512.0) as bigint) as seq_idx,
       cast(count(*) as bigint) as n_docs,
       cast(sum(n_tokens) as bigint) as total_tokens,
       min(doc_id) as first_doc, max(doc_id) as last_doc
from c group by 1, 2
"""


def q_tfidf_topk(spark, sf_dir):
    """Per-document top-3 TF-IDF terms: two partial-agg groupBys (tf, df),
    token-keyed join back, per-document ranking window (never global).
    Scores rounded before ranking so the order is engine-reproducible."""
    from docling_spark.operators.textstats import tfidf_topk

    return tfidf_topk(_docs(spark, sf_dir), k=3)


ORACLE_TFIDF_TOPK = """
with toks as (
  select doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) as token
  from documents
),
t2 as (select * from toks where token <> ''),
tf as (select doc_id, token, count(*) as tf from t2 group by 1, 2),
dfq as (select token, count(*) as df from tf group by 1),
n as (select count(distinct doc_id) as n_docs from documents),
scored as (
  select tf.doc_id, tf.token, cast(tf.tf as bigint) as tf,
         cast(dfq.df as bigint) as df,
         round(tf.tf * log10(n.n_docs::double / dfq.df), 6) as score
  from tf join dfq using (token) cross join n
),
r as (
  select *, row_number() over (
    partition by doc_id order by score desc, token) as rank
  from scored
)
select doc_id, token, tf, df, score, cast(rank as bigint) as rank
from r where rank <= 3
"""


def q_domain_cap(spark, sf_dir):
    """RefinedWeb-style per-source frequency cap (keep the 10 smallest doc
    ids per source) via the two-level salted top-k — never one rank window
    over a whole (possibly corpus-dominating) source."""
    from docling_spark.operators.curation import domain_cap

    return domain_cap(_docs(spark, sf_dir), cap=10, salt_mod=16)


ORACLE_DOMAIN_CAP = """
select doc_id, source, cast(rk as bigint) as domain_rank
from (
  select doc_id, source,
         row_number() over (partition by source order by doc_id) as rk
  from documents
) where rk <= 10
"""


# Target mixture for the mixture_plan contract query: deliberately uneven
# over four sources so keep_fractions differ and exactly one source binds.
MIXTURE_TARGETS = {"src0": 4.0, "src1": 2.0, "src2": 1.0, "src3": 1.0}


def q_mixture_plan(spark, sf_dir):
    """Data-mixing plan (Pile/DoReMi shape): per-source keep fractions
    that realize a target token mixture without oversampling any source —
    one corpus scan + partial-agg groupBy(source), broadcast target table,
    one-row scalar min attached back."""
    from docling_spark.operators.curation import mixture_plan

    return mixture_plan(_docs(spark, sf_dir), MIXTURE_TARGETS)


ORACLE_MIXTURE_PLAN = f"""
with targets(source, w) as (values {", ".join(
    f"('{s}', {w})" for s, w in sorted(MIXTURE_TARGETS.items())
)}),
norm as (
  select source, w / (select sum(w) from targets) as share from targets
),
tok0 as (
  select d.source,
         sum(case when trim(text) = '' then 0
                  else len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) end)
           as tokens_avail
  from documents d
  join targets t on t.source = d.source
  group by 1
),
-- LEFT join from targets, mirroring mixture_plan: a targeted source
-- absent from the corpus appears with tokens_avail=0 and drives nmax
-- to 0 instead of silently vanishing from the plan
tok as (
  select n.source, n.share, coalesce(t.tokens_avail, 0) as tokens_avail
  from norm n left join tok0 t using (source)
),
n as (
  select min(tokens_avail / share) as nmax from tok
)
select tok.source,
       cast(tokens_avail as bigint) as tokens_avail,
       round(share, 6) as target_share,
       case when tokens_avail = 0 then 1.0
            else round(share * nmax / tokens_avail, 6) end as keep_fraction,
       -- nudge + clamp mirrors mixture_plan: 2^-48 relative slack beats
       -- fp noise without crossing the next integer, and least() caps
       -- the binding source at tokens_avail exactly
       cast(least(floor(share * nmax * (1.0 + 3.552713678800501e-15)
                        + 1e-6),
                  tokens_avail) as bigint) as tokens_planned
from tok, n
"""


def q_dedup_canonical(spark, sf_dir):
    """End of the dedup pipeline: every document mapped to its duplicate-
    cluster canonical (smallest doc id in its Jaccard>=0.2 connected
    component; singletons are their own canonical)."""
    from docling_spark.operators.dedup import (
        connected_components,
        jaccard_pairs,
        keep_canonical,
        shingles,
    )

    docs = _docs(spark, sf_dir)
    comps = connected_components(
        jaccard_pairs(shingles(docs), threshold=0.2)
    )
    return keep_canonical(docs, comps)


ORACLE_DEDUP_CANONICAL = f"""
with sh as ({_SHINGLE_SQL}),
sizes as (select doc_id, count(*) sz from sh group by 1),
inter as (
  select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as inter
  from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2
),
p as (
  select doc_a, doc_b from inter
  join sizes sa on sa.doc_id = doc_a
  join sizes sb on sb.doc_id = doc_b
  where inter::double / (sa.sz + sb.sz - inter) >= 0.2
),
edges as (
  select doc_a as src, doc_b as dst from p
  union
  select doc_b, doc_a from p
),
reach as (
  with recursive r(src, dst) as (
    select src, dst from edges
    union
    select r.src, e.dst from r join edges e on r.dst = e.src
  )
  select * from r
),
comp as (
  select src as doc_id, least(src, min(dst)) as component
  from reach group by src
)
select d.doc_id,
       coalesce(c.component, d.doc_id) as canonical_id,
       cast(d.doc_id = coalesce(c.component, d.doc_id) as int) as is_canonical
from documents d left join comp c on c.doc_id = d.doc_id
"""


def q_extract_template_kv(spark, sf_dir):
    """Templated KV extraction (DocumentExtractor.extract analog,
    document_extractor.py:127-146): a synthetic invoice-ish page per
    document, a 6-field typed template (one field absent), all coercion
    paths exercised. Fully JVM-side: regexp parse + broadcast template
    join + first-match window (template_extract.py)."""
    from docling_spark.operators.template_extract import extract_templated

    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    payload = F.concat(
        F.lit("Invoice No: "), F.col("doc_id").cast("string"),
        F.lit("\nCustomer Name: "), F.element_at(toks, 1),
        F.lit(" "), F.element_at(toks, 2),
        F.lit("\nTotal Amount = "), F.col("doc_id").cast("string"),
        F.lit(".25\nPaid: "),
        F.when(F.col("doc_id") % 2 == 0, F.lit("yes")).otherwise(F.lit("no")),
        F.lit("\nShip Date: 2026-03-"),
        F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0"),
        F.lit("\n\n"), F.col("text"),
    )
    d = _docs(spark, sf_dir).select(
        F.col("doc_id"), F.lit(0).alias("turn_idx"),
        payload.alias("extracted_text"),
    )
    template = {
        "Invoice No": "int", "Customer Name": "str",
        "Total Amount": "float", "Paid": "bool",
        "Ship Date": "date", "PO Number": "str",  # absent -> no rows
    }
    out = extract_templated(d, template, id_cols=("doc_id", "turn_idx"))
    return out.select("doc_id", "page_no", "field", "value_raw", "value", "ok")


ORACLE_TEMPLATE_KV = """
with d as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks from documents
)
select doc_id, 1 as page_no, 'invoice no' as field,
       cast(doc_id as varchar) as value_raw,
       cast(doc_id as varchar) as value, true as ok
from d
union all
select doc_id, 1, 'customer name', toks[1] || ' ' || toks[2],
       toks[1] || ' ' || toks[2], true
from d
union all
select doc_id, 1, 'total amount', doc_id || '.25',
       printf('%.6f', doc_id + 0.25), true
from d
union all
select doc_id, 1, 'paid',
       case when doc_id % 2 = 0 then 'yes' else 'no' end,
       case when doc_id % 2 = 0 then 'true' else 'false' end, true
from d
union all
select doc_id, 1, 'ship date',
       '2026-03-' || lpad(cast(doc_id % 28 + 1 as varchar), 2, '0'),
       '2026-03-' || lpad(cast(doc_id % 28 + 1 as varchar), 2, '0'), true
from d
"""


def _diar_windows(spark, sf_dir):
    """Synthetic speaker-embedding windows per document: 12 windows in
    three blocks of 4; block b belongs to speaker b % k with k = 2 +
    doc_id % 2 (so even docs have a SPEAKER_00 → 01 → 00 recurrence and
    odd docs a 3-speaker sequence). Embeddings are one-hot-ish with a
    tiny deterministic jitter — separable by construction, so Ward +
    silhouette must recover exactly k and the block partition."""
    d = _docs(spark, sf_dir).select("doc_id")
    w = d.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(11))).alias("win_idx")
    )
    k = (F.col("doc_id") % 2 + 2)
    spk = (F.floor(F.col("win_idx") / 4) % k).cast("int")
    jit = F.col("win_idx") * 0.01
    return w.select(
        "doc_id", "win_idx",
        (F.col("win_idx") * 0.5).alias("ts"),
        F.array(
            F.when(spk == 0, 10.0).otherwise(0.0) + jit,
            F.when(spk == 1, 10.0).otherwise(0.0),
            F.when(spk == 2, 10.0).otherwise(0.0),
            F.lit(0.0),
        ).alias("embedding"),
    )


def q_diarize_windows(spark, sf_dir):
    """Per-conversation speaker clustering (speaker_diarization.py
    diarize(), :110-190): bounded Ward + silhouette auto-k inside one
    applyInPandas group per document; labels canonical by first
    appearance. The oracle derives the labels arithmetically from the
    generator — the kernel must reproduce them exactly, auto-k included."""
    from docling_spark.operators.diarize import diarize_windows

    out = diarize_windows(_diar_windows(spark, sf_dir), conv_col="doc_id")
    return out.select("doc_id", "win_idx", F.round("ts", 6).alias("ts"),
                      "speaker")


ORACLE_DIARIZE_WINDOWS = """
select d.doc_id, w.win_idx,
       round(w.win_idx * 0.5, 6) as ts,
       'SPEAKER_0' || ((w.win_idx // 4) % (2 + d.doc_id % 2)) as speaker
from documents d
cross join (select unnest(generate_series(0, 11)) as win_idx) w
"""


def _diar_labeled(spark, sf_dir):
    """Labeled windows for the segment-merge stage, independent of the
    clustering kernel: 10 windows per doc, speaker flips every 3 windows,
    audio length fixed at 6.0 s (past the last window's raw end)."""
    d = _docs(spark, sf_dir).select("doc_id")
    w = d.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("win_idx")
    )
    return w.select(
        "doc_id", "win_idx",
        (F.col("win_idx") * 0.5).alias("ts"),
        F.concat(F.lit("SPEAKER_0"),
                 (F.floor(F.col("win_idx") / 3) % 2).cast("string")
                 ).alias("speaker"),
        F.lit(6.0).alias("audio_len"),
    )


def q_speaker_segments(spark, sf_dir):
    """Consecutive same-speaker windows → segments
    (speaker_diarization.py:168-184): lag/run-id window chain, last
    segment extended to the audio end. One conversation-keyed shuffle."""
    from docling_spark.operators.diarize import speaker_segments

    seg = speaker_segments(_diar_labeled(spark, sf_dir), conv_col="doc_id",
                           audio_len_col="audio_len")
    return seg.select("doc_id", "seg_idx",
                      F.round("start_time", 6).alias("start_time"),
                      F.round("end_time", 6).alias("end_time"), "speaker")


ORACLE_SPEAKER_SEGMENTS = """
-- runs of 3 windows (ts = win*0.5): [0..2] S0, [3..5] S1, [6..8] S0,
-- [9] S1; end = last ts + 0.5 except the final run extends to 6.0
select d.doc_id, s.seg_idx,
       round(s.seg_idx * 1.5, 6) as start_time,
       round(case when s.seg_idx = 3 then 6.0
                  else s.seg_idx * 1.5 + 1.5 end, 6) as end_time,
       'SPEAKER_0' || (s.seg_idx % 2) as speaker
from documents d
cross join (select unnest(generate_series(0, 3)) as seg_idx) s
"""


def q_speaker_assign(spark, sf_dir):
    """Max-overlap speaker assignment (assign_speakers,
    speaker_diarization.py:199-230) of three transcript items per doc
    against the 4-segment diarization of q_speaker_segments: keyed
    equi-join + argmax window, ties to the earliest segment, no-overlap
    items keep NULL."""
    from docling_spark.operators.diarize import (
        assign_speakers, speaker_segments)

    segs = speaker_segments(_diar_labeled(spark, sf_dir), conv_col="doc_id",
                            audio_len_col="audio_len")
    d = _docs(spark, sf_dir).select("doc_id")
    items = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("item_idx"),
    ).select(
        "doc_id", "item_idx",
        (F.col("item_idx") * 2.0 + 0.25).alias("start_time"),
        (F.col("item_idx") * 2.0 + 1.75).alias("end_time"),
    )
    out = assign_speakers(items, segs, conv_col="doc_id")
    return out.select("doc_id", "item_idx",
                      F.round("start_time", 6).alias("start_time"),
                      F.round("end_time", 6).alias("end_time"), "speaker")


ORACLE_SPEAKER_ASSIGN = """
with segs as (
  select d.doc_id, s.seg_idx,
         s.seg_idx * 1.5 as s0,
         case when s.seg_idx = 3 then 6.0 else s.seg_idx * 1.5 + 1.5 end as s1,
         'SPEAKER_0' || (s.seg_idx % 2) as speaker
  from documents d
  cross join (select unnest(generate_series(0, 3)) as seg_idx) s
),
items as (
  select d.doc_id, i.item_idx,
         i.item_idx * 2.0 + 0.25 as start_time,
         i.item_idx * 2.0 + 1.75 as end_time
  from documents d
  cross join (select unnest(generate_series(0, 2)) as item_idx) i
),
ov as (
  select i.doc_id, i.item_idx, i.start_time, i.end_time, g.seg_idx, g.speaker,
         greatest(0.0, least(i.end_time, g.s1) - greatest(i.start_time, g.s0))
           as ovl
  from items i join segs g using (doc_id)
),
best as (
  select *, row_number() over (partition by doc_id, item_idx
                               order by ovl desc, seg_idx) as rk
  from ov
)
select doc_id, item_idx,
       round(start_time, 6) as start_time, round(end_time, 6) as end_time,
       case when ovl > 0 then speaker end as speaker
from best where rk = 1
"""


def _scene_probes(spark, sf_dir):
    """Synthetic probe-diff signal per document: 60 probes at 1 fps,
    ambient diff 0.02 with 0.92 cut spikes at t = 7+o, 22+o, 37+o, 52+o
    (o = doc_id % 3) — flat ambient puts the MAD at zero, so the auto
    prominence is max(floor, median) = 0.02 and exactly the four spikes
    survive; expected scene bounds are pure arithmetic."""
    d = _docs(spark, sf_dir).select("doc_id")
    p = d.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(59))).alias("probe_idx")
    )
    o = F.col("doc_id") % 3
    is_spike = ((F.col("probe_idx") - 7 - o) % 15 == 0) & \
        (F.col("probe_idx") >= 7 + o) & (F.col("probe_idx") <= 52 + o)
    return p.select(
        "doc_id", "probe_idx",
        F.col("probe_idx").cast("double").alias("ts"),
        F.when(is_spike, 0.92).otherwise(0.02).alias("diff"),
    )


def q_scene_detect(spark, sf_dir):
    """Scene-cut detection (SimpleSceneChangeFrameSampler.detect_scenes,
    video_frame_sampling.py:424-483): from-scratch find_peaks (plateau
    midpoints, height-priority distance selection, prominence filter)
    with per-video auto prominence, one bounded kernel group per video."""
    from docling_spark.operators.scenes import detect_scenes

    out = detect_scenes(_scene_probes(spark, sf_dir), media_col="doc_id")
    return out.select("doc_id", "scene_id",
                      F.round("start_time", 6).alias("start_time"),
                      F.round("end_time", 6).alias("end_time"))


ORACLE_SCENE_DETECT = """
-- boundaries per doc: [0, 7+o, 22+o, 37+o, 52+o], last scene ends at 59
with s as (select unnest(generate_series(0, 4)) as scene_id)
select d.doc_id, s.scene_id,
       round(case when s.scene_id = 0 then 0.0
                  else (s.scene_id - 1) * 15 + 7 + d.doc_id % 3 end, 6)
         as start_time,
       round(case when s.scene_id = 4 then 59.0
                  else s.scene_id * 15 + 7 + d.doc_id % 3 end, 6) as end_time
from documents d cross join s
"""


def q_scene_keyframes(spark, sf_dir):
    """Sharpest-keyframe selection (_best_frame,
    video_frame_sampling.py:378-432) chained onto q_scene_detect's
    scenes: candidate frames at every integer second with an arithmetic
    sharpness (the stubbed Laplacian-variance kernel), argmax within the
    central 40% band of each scene, ties to the earliest frame. The JVM
    plan is a video-keyed equi-join + one argmax window."""
    from docling_spark.operators.scenes import (
        detect_scenes, scene_best_frames)

    scenes = detect_scenes(_scene_probes(spark, sf_dir), media_col="doc_id")
    d = _docs(spark, sf_dir).select("doc_id")
    cands = d.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(59))).alias("fidx")
    ).select(
        "doc_id",
        F.col("fidx").cast("double").alias("ts"),
        ((F.col("fidx") * 7 + F.col("doc_id")) % 13).cast("double")
        .alias("sharpness"),
    )
    out = scene_best_frames(cands, scenes, media_col="doc_id")
    return out.select("doc_id", "scene_id",
                      F.round("frame_ts", 6).alias("frame_ts"),
                      F.round("sharpness", 6).alias("sharpness"))


ORACLE_SCENE_KEYFRAMES = """
with s as (select unnest(generate_series(0, 4)) as scene_id),
scenes as (
  select d.doc_id, s.scene_id,
         case when s.scene_id = 0 then 0.0
              else (s.scene_id - 1) * 15 + 7 + d.doc_id % 3 end as s0,
         case when s.scene_id = 4 then 59.0
              else s.scene_id * 15 + 7 + d.doc_id % 3 end as s1
  from documents d cross join s
),
cands as (
  select d.doc_id, f.fidx * 1.0 as ts,
         cast((f.fidx * 7 + d.doc_id) % 13 as double) as sharpness
  from documents d
  cross join (select unnest(generate_series(0, 59)) as fidx) f
),
banded as (
  select sc.doc_id, sc.scene_id, c.ts, c.sharpness
  from scenes sc
  join cands c on c.doc_id = sc.doc_id
   and c.ts >= greatest(sc.s0, (sc.s0 + sc.s1) / 2 - (sc.s1 - sc.s0) * 0.2)
   and c.ts <= least(sc.s1, (sc.s0 + sc.s1) / 2 + (sc.s1 - sc.s0) * 0.2)
),
best as (
  select *, row_number() over (partition by doc_id, scene_id
                               order by sharpness desc, ts) as rk
  from banded
)
select doc_id, scene_id, round(ts, 6) as frame_ts,
       round(sharpness, 6) as sharpness
from best where rk = 1
"""


def q_quality_lr_train(spark, sf_dir):
    """Trainable quality classifier (the learnable twin of
    quality_classifier/linear_quality_score): 3 full-batch
    logistic-regression GD iterations, each one corpus scan + a single
    4-value integer-quantized gradient aggregate + an O(d) driver weight
    update re-broadcast as literals. The oracle unrolls the identical
    iterations in SQL — bigint gradient sums make the whole training
    trajectory order-independent and bit-identical across engines."""
    from docling_spark.operators.textstats import train_quality_lr

    scored, _w = train_quality_lr(_docs(spark, sf_dir))
    return scored.select("doc_id", "label", "score", "pred")


def _lr_sigma_sql(wcte: str) -> str:
    return (f"1.0 / (1.0 + exp(-({wcte}.w0 * x.x0 + {wcte}.w1 * x.x1 "
            f"+ {wcte}.w2 * x.x2 + {wcte}.w3 * x.x3)))")


def _lr_grad_sql(wcte: str) -> str:
    s = _lr_sigma_sql(wcte)
    cols = ", ".join(
        f"sum(cast(round(({s} - x.y) * x.x{j} * 1000000.0) as bigint)) as g{j}"
        for j in range(4))
    return f"select {cols} from x cross join {wcte}"


def _lr_step_sql(wcte: str, gcte: str) -> str:
    cols = ", ".join(
        f"{wcte}.w{j} - 0.5 * ({gcte}.g{j} / ((select c from n) * 1000000.0)) as w{j}"
        for j in range(4))
    return f"select {cols} from {wcte} cross join {gcte}"


ORACLE_QUALITY_LR_TRAIN = f"""
with f as (
  select doc_id,
         case when trim(text) = '' then 0
              else len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) end as n_tok,
         length(regexp_replace(trim(text), '\\s+', '', 'g')) as n_nospace,
         len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''),
             t -> t in ('the','and','of','to','a','in','is','it','that')))
           as hits_en
  from documents
),
x as (
  select doc_id,
         1.0 as x0,
         n_tok / 100.0 as x1,
         (case when n_tok > 0 then n_nospace::double / n_tok
               else 0.0 end) / 10.0 as x2,
         case when n_tok > 0 then hits_en::double / n_tok
              else 0.0 end as x3,
         cast((n_tok + doc_id) % 2 as double) as y
  from f
),
n as (select count(*)::double as c from x),
w0 as (select 0.0 as w0, 0.0 as w1, 0.0 as w2, 0.0 as w3),
g0 as ({_lr_grad_sql("w0")}),
w1 as ({_lr_step_sql("w0", "g0")}),
g1 as ({_lr_grad_sql("w1")}),
w2 as ({_lr_step_sql("w1", "g1")}),
g2 as ({_lr_grad_sql("w2")}),
w3 as ({_lr_step_sql("w2", "g2")}),
scored as (
  select x.doc_id, cast(x.y as int) as label,
         round({_lr_sigma_sql("w3")}, 6) as score
  from x cross join w3
)
select doc_id, label, score, cast(score > 0.5 as int) as pred from scored
"""


def q_temperature_mixture(spark, sf_dir):
    """Temperature-based source mixing (mC4/XLM-R sampling rule):
    p_s ∝ T_s^0.3 upweights low-resource sources; keep fractions sized
    so no source oversamples. One corpus scan + groupBy(source), then
    two one-row scalar attaches (Z normalizer, max-feasible-corpus)."""
    from docling_spark.operators.curation import temperature_mixture

    return temperature_mixture(_docs(spark, sf_dir), alpha=0.3)


ORACLE_TEMPERATURE_MIXTURE = """
with tok as (
  select source,
         sum(case when trim(text) = '' then 0
                  else len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) end)
           as tokens_avail
  from documents group by 1
),
z as (select sum(pow(tokens_avail::double, 0.3)) as z from tok),
per as (
  select source, tokens_avail,
         pow(tokens_avail::double, 0.3) / (select z from z) as share
  from tok
),
n as (select min(tokens_avail / share) as nmax from per)
select source,
       cast(tokens_avail as bigint) as tokens_avail,
       round(share, 6) as target_share,
       round(least(share * nmax / tokens_avail, 1.0), 6) as keep_fraction,
       cast(least(floor(share * nmax * (1.0 + 3.552713678800501e-15)
                        + 1e-6),
                  tokens_avail) as bigint) as tokens_planned
from per, n
"""


def q_chart_cells(spark, sf_dir):
    """Chart→table post-processing (granite_vision.py:124-193): the
    VLM's CSV grid answer (stubbed: synthesized per document, 3/4 with a
    textual header row + a textual row-header cell, 1/4 all-numeric so
    no header is inferred) explodes into typed unit-span cells. Fully
    JVM: posexplode x2 + per-chart forall header vote."""
    from docling_spark.operators.charts import chart_table_cells

    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    grid = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.lit("2019,"), F.col("doc_id").cast("string"),
                 F.lit("\n2020,"), (F.col("doc_id") + 1).cast("string")),
    ).otherwise(
        F.concat(F.lit("year,"), F.element_at(toks, 1),
                 F.lit("\n2020,"), F.col("doc_id").cast("string"),
                 F.lit("\n"), F.element_at(toks, 2), F.lit(",7")),
    )
    d = _docs(spark, sf_dir).select("doc_id", grid.alias("grid"))
    return chart_table_cells(d, id_cols=("doc_id",)).select(
        "doc_id", "row_idx", "col_idx", "text",
        F.col("column_header").cast("int").alias("column_header"),
        F.col("row_header").cast("int").alias("row_header"),
    )


ORACLE_CHART_CELLS = """
with t as (
  select doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks,
         doc_id % 4 = 0 as numeric_grid
  from documents
),
flags as (
  select doc_id, toks, numeric_grid,
         -- header vote: 'year' is always non-numeric, so the vote is
         -- tok1's numericness; data row-header vote is tok2's
         (trim(toks[1]) = '' or try_cast(toks[1] as double) is null) as t1_nn,
         (trim(toks[2]) = '' or try_cast(toks[2] as double) is null) as t2_nn
  from t
)
-- all-numeric grids: 2x2 cells, no headers anywhere
select doc_id, r.row_idx, c.col_idx,
       case when c.col_idx = 0 then cast(2019 + r.row_idx as varchar)
            else cast(doc_id + r.row_idx as varchar) end as text,
       0 as column_header, 0 as row_header
from flags
cross join (select unnest(generate_series(0, 1)) as row_idx) r
cross join (select unnest(generate_series(0, 1)) as col_idx) c
where numeric_grid
union all
-- worded grids: 3x2 cells; header iff tok1 non-numeric
select doc_id, r.row_idx, c.col_idx,
       case
         when r.row_idx = 0 and c.col_idx = 0 then 'year'
         when r.row_idx = 0 then toks[1]
         when r.row_idx = 1 and c.col_idx = 0 then '2020'
         when r.row_idx = 1 then cast(doc_id as varchar)
         when c.col_idx = 0 then toks[2]
         else '7' end as text,
       cast(r.row_idx = 0 and t1_nn as int) as column_header,
       cast(case
         -- no header inferred -> row 0 is data: 'year' is non-numeric
         when r.row_idx = 0 and c.col_idx = 0 then not t1_nn
         when r.row_idx = 0 then false  -- tok1 numeric when row 0 is data
         when r.row_idx = 1 then false  -- '2020' and doc_id are numeric
         when c.col_idx = 1 then false  -- '7' is numeric
         else t2_nn end as int) as row_header
from flags
cross join (select unnest(generate_series(0, 2)) as row_idx) r
cross join (select unnest(generate_series(0, 1)) as col_idx) c
where not numeric_grid
"""


def q_extract_glm(spark, sf_dir):
    """Legacy GLM layout-JSON scan (utils/glm_utils.py:70-361 →
    engine/glmx.py): per-document GLM payload with heading, paragraph,
    list grouping, figure+caption re-attachment, a 2x2 table, an
    empty-text formula, furniture footer, and one unresolved iref
    (warning containment) — run through the real extraction operator."""
    d = F.col("doc_id").cast("string")
    t1, t2 = _tok(1), _tok(2)

    def mt(text_col):
        return F.concat(F.lit('{"text": "'), text_col, F.lit('"}'))

    def pe(i, name, ptype, iref):
        return (f'{{"type": "{ptype}", "name": "{name}", "span": [0, 4096], '
                f'"iref": "{iref}", "page": 1, "bbox": [0.0, 0.0, 100.0, 10.0]}}')

    cap = F.concat(F.lit("Figure "), d, F.lit(": "), t1, F.lit(" chart"))
    payload = F.concat(
        F.lit('{"file-info": {"filename": "doc.pdf", "document-hash": "'),
        d,
        F.lit('"}, "page-dimensions": [{"page": 1, "width": 612.0, '
              '"height": 792.0}], "main-text": ['),
        mt(F.concat(F.lit("Doc "), d)), F.lit(", "),
        mt(F.col("text")), F.lit(", "),
        mt(F.concat(F.lit("alpha "), t1)), F.lit(", "),
        mt(F.concat(F.lit("beta "), t2)), F.lit(", "),
        mt(F.lit("x^2")), F.lit(", "),
        mt(F.concat(F.lit("p "), d)),
        F.lit('], "figures": [{"captions": [{"text": "'),
        cap,
        F.lit('", "prov": [{"$ref": "#/page-elements/5"}]}], '
              '"payload": null}], '
              '"tables": [{"#-rows": 2, "#-cols": 2, "captions": [], '
              '"data": [['
              '{"bbox": null, "text": "h1", "type": "col_header", '
              '"spans": [[0, 0]], "row-span": [0, 1], "col-span": [0, 1]}, '
              '{"bbox": null, "text": "h2", "type": "col_header", '
              '"spans": [[0, 1]], "row-span": [0, 1], "col-span": [1, 2]}], '
              '[{"bbox": null, "text": "'),
        t1,
        F.lit('", "type": "body", "spans": [[1, 0]], "row-span": [1, 2], '
              '"col-span": [0, 1]}, '
              '{"bbox": null, "text": "'),
        d,
        F.lit('", "type": "body", "spans": [[1, 1]], "row-span": [1, 2], '
              '"col-span": [1, 2]}]]}], '
              '"page-elements": ['
              + pe(0, "section_header", "paragraph", "#/main-text/0") + ", "
              + pe(1, "text", "paragraph", "#/main-text/1") + ", "
              + pe(2, "list_item", "paragraph", "#/main-text/2") + ", "
              + pe(3, "list_item", "paragraph", "#/main-text/3") + ", "
              + pe(4, "picture", "figure", "#/figures/0") + ", "
              + pe(5, "caption", "paragraph", "#/figures/0/captions/0") + ", "
              + pe(6, "table", "table", "#/tables/0") + ", "
              + pe(7, "formula", "paragraph", "#/main-text/4") + ", "
              + pe(8, "page_footer", "paragraph", "#/main-text/5") + ", "
              + pe(9, "text", "paragraph", "#/main-text/99")
              + "]}"),
    )
    return _extract_docs(spark, sf_dir, payload, "glm")


ORACLE_EXTRACT_GLM = """
with t as (
  select doc_id, text, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks
  from documents
)
select doc_id, 'success' as status,
  '## Doc ' || doc_id || chr(10) || chr(10)
  || text || chr(10) || chr(10)
  || '- alpha ' || toks[1] || chr(10) || '- beta ' || toks[2]
  || chr(10) || chr(10)
  || 'Figure ' || doc_id || ': ' || toks[1] || ' chart' || chr(10) || chr(10)
  || '<!-- image -->' || chr(10) || chr(10)
  || '| h1 | h2 |' || chr(10) || '| - | - |' || chr(10)
  || '| ' || toks[1] || ' | ' || doc_id || ' |' || chr(10) || chr(10)
  || '<!-- formula-not-decoded -->' as extracted_text
from t
"""


def q_code_formula_post(spark, sf_dir):
    """CodeFormula enrichment post-processing
    (code_formula_model.py:161-283): the VLM answer (stubbed:
    synthesized per document — known-language tag / unknown tag /
    untagged code, and formulas with the loc sentinel) is cleaned
    (stop-token cut, tag removal, lstrip) and its ``<_language_>`` tag
    popped through exact enum membership. Pure JVM."""
    from docling_spark.operators.vlm_post import code_formula_post

    d = F.col("doc_id")
    label = F.when(d % 3 == 2, "formula").otherwise("code")
    word = F.element_at(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != ""), 1)
    answer = (
        F.when(d % 3 == 0, F.concat(
            F.lit("<_Python_>def f_"), d.cast("string"),
            F.lit("():\n    return "), word,
            F.lit("\n</code><end_of_utterance>assistant tail")))
        .when((d % 3 == 1) & (d % 2 == 0), F.concat(
            F.lit("<_proto_>message M"), d.cast("string"),
            F.lit(" {}</code><loc_0><loc_0><loc_500><loc_500><end_of_utterance>")))
        .when(d % 3 == 1, F.concat(
            F.lit("x = "), word, F.lit(" + "), d.cast("string"), F.lit("</code>")))
        .otherwise(F.concat(
            F.lit(" \n E_{"), d.cast("string"),
            F.lit("} = mc^2</formula><end_of_utterance>")))
    )
    base = _docs(spark, sf_dir).select(
        "doc_id", label.alias("label"), answer.alias("vlm_answer"))
    return code_formula_post(base).select(
        "doc_id", "label", "text", "code_language")


ORACLE_CODE_FORMULA_POST = """
with a as (
  select doc_id,
         case when doc_id % 3 = 2 then 'formula' else 'code' end as label,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '')[1] as word
  from documents
),
ans as (
  select doc_id, label,
    case
      when doc_id % 3 = 0 then '<_Python_>def f_' || doc_id ||
        '():' || chr(10) || '    return ' || word || chr(10) ||
        '</code><end_of_utterance>assistant tail'
      when doc_id % 3 = 1 and doc_id % 2 = 0 then '<_proto_>message M' ||
        doc_id || ' {}</code><loc_0><loc_0><loc_500><loc_500><end_of_utterance>'
      when doc_id % 3 = 1 then 'x = ' || word || ' + ' || doc_id || '</code>'
      else ' ' || chr(10) || ' E_{' || doc_id ||
        '} = mc^2</formula><end_of_utterance>'
    end as raw
  from a
),
clean as (
  select doc_id, label,
         regexp_replace(
           replace(replace(replace(split_part(raw, '<end_of_utterance>', 1),
             '</code>', ''), '</formula>', ''),
             '<loc_0><loc_0><loc_500><loc_500>', ''),
           '^\\s+', '') as cleaned
  from ans
),
lang as (
  select doc_id, label, cleaned,
         case when label = 'code'
              then regexp_extract(cleaned, '^<_([^_>]+)_>', 1) else '' end as tag
  from clean
)
select doc_id, label,
       case when tag <> '' then regexp_replace(cleaned, '^<_[^_>]+_>\\s*', '')
            else cleaned end as text,
       case when label = 'code'
            then (case when tag in ('Python') then tag else 'unknown' end)
       end as code_language
from lang
"""


def q_vlm_image_size(spark, sf_dir):
    """Qwen2.5-VL smart_resize arithmetic (vlm_utils.py:26-75): page
    raster dimensions (stubbed: synthesized per document to hit the
    longest-side clamp, the max-pixel shrink, the min-pixel grow, and
    the no-op path) → the model-input resolution. Ties-to-even rounding
    matches Python round() via bround on Spark and an explicit
    half-even CASE in the oracle."""
    from docling_spark.operators.vlm_post import qwen_smart_resize

    d = F.col("doc_id")
    base = _docs(spark, sf_dir).select(
        "doc_id",
        (200 + (d * 37) % 4000).alias("width"),
        (150 + (d * 53) % 3000).alias("height"),
        F.when(d % 3 == 0, 1.0).when(d % 3 == 1, 2.0).otherwise(0.5)
         .alias("scale"),
        F.when(d % 4 == 0, 1024).otherwise(F.lit(None).cast("int"))
         .alias("max_size"),
    )
    return qwen_smart_resize(base).select(
        "doc_id", "width", "height", "w_bar", "h_bar")


ORACLE_VLM_IMAGE_SIZE = """
with inp as (
  select doc_id,
         200 + (doc_id * 37) % 4000 as width,
         150 + (doc_id * 53) % 3000 as height,
         case when doc_id % 3 = 0 then 1.0
              when doc_id % 3 = 1 then 2.0 else 0.5 end as scale,
         case when doc_id % 4 = 0 then 1024 end as max_size
  from documents
),
scaled as (
  select *, floor(width * scale) as mw0, floor(height * scale) as mh0
  from inp
),
clamped as (
  select doc_id, width, height,
         case when max_size is not null and greatest(mw0, mh0) > max_size
              then floor(mw0 * (max_size / greatest(mw0, mh0))) else mw0
         end as mw,
         case when max_size is not null and greatest(mw0, mh0) > max_size
              then floor(mh0 * (max_size / greatest(mw0, mh0))) else mh0
         end as mh
  from scaled
),
-- Python round() is half-even: on exact .5 pick the even integer
rounded as (
  select *,
    cast(case when mh/28.0 - floor(mh/28.0) = 0.5
         then floor(mh/28.0) + (cast(floor(mh/28.0) as bigint) % 2)
         else round(mh/28.0) end as bigint) * 28 as h_bar0,
    cast(case when mw/28.0 - floor(mw/28.0) = 0.5
         then floor(mw/28.0) + (cast(floor(mw/28.0) as bigint) % 2)
         else round(mw/28.0) end as bigint) * 28 as w_bar0
  from clamped
)
select doc_id, cast(width as bigint) as width, cast(height as bigint) as height,
  cast(case
    when h_bar0 * w_bar0 > 2500000
      then greatest(28, floor(mw / sqrt(mh * mw / 2500000.0) / 28.0) * 28)
    when h_bar0 * w_bar0 < 200704
      then ceil(mw * sqrt(200704.0 / (mh * mw)) / 28.0) * 28
    else w_bar0 end as bigint) as w_bar,
  cast(case
    when h_bar0 * w_bar0 > 2500000
      then greatest(28, floor(mh / sqrt(mh * mw / 2500000.0) / 28.0) * 28)
    when h_bar0 * w_bar0 < 200704
      then ceil(mh * sqrt(200704.0 / (mh * mw)) / 28.0) * 28
    else h_bar0 end as bigint) as h_bar
from rounded
"""


def q_ocr_rotate_boxes(spark, sf_dir):
    """Tesseract OSD post-processing (ocr_utils.py:11-69,
    orientation.py:9-65): per-document OSD output (stubbed: script name
    + clockwise orientation synthesized, one invalid angle slice for
    row-level failure containment) → docling script key, CCW angle, and
    the rotated/rescaled corner rectangle. Pure column CASE arithmetic."""
    from docling_spark.operators.vlm_post import (
        map_tesseract_script, tesseract_box_rotate)

    d = F.col("doc_id")
    scripts = ["Katakana", "Hiragana", "Han", "Korean", "Latin", "Arabic"]
    script = scripts[0]
    expr = F.lit("Latin")
    for i, s in enumerate(scripts):
        expr = F.when(d % 6 == i, s).otherwise(expr)
    base = _docs(spark, sf_dir).select(
        "doc_id",
        expr.alias("script"),
        # one slice (d%5==4) reports an off-grid angle → null corners
        F.when(d % 5 == 4, 45).otherwise((d % 4) * 90).alias("tess_orientation"),
        (d % 300).cast("double").alias("l"),
        ((d * 3) % 200).cast("double").alias("t"),
        (50 + d % 40).cast("double").alias("box_w"),
        (20 + d % 30).cast("double").alias("box_h"),
        F.lit(800.0).alias("im_w"), F.lit(600.0).alias("im_h"),
        F.lit(2.0).alias("ocr_scale"),
    )
    out = tesseract_box_rotate(base)
    return out.select(
        "doc_id",
        map_tesseract_script(F.col("script")).alias("script"),
        # double, not int: a nullable int column round-trips through
        # pandas as float on one engine but not the other — the same
        # canonicalization drift that burned extract_metrics_by_format
        # in round 1
        F.col("angle_ccw").cast("double").alias("angle_ccw"),
        *[F.round(c, 6).alias(c)
          for c in ("r_x0", "r_y0", "r_x1", "r_y1",
                    "r_x2", "r_y2", "r_x3", "r_y3")],
    )


ORACLE_OCR_ROTATE_BOXES = """
with inp as (
  select doc_id,
    case doc_id % 6 when 0 then 'Katakana' when 1 then 'Hiragana'
         when 2 then 'Han' when 3 then 'Korean' when 4 then 'Latin'
         else 'Arabic' end as script,
    case when doc_id % 5 = 4 then 45 else (doc_id % 4) * 90 end as o,
    cast(doc_id % 300 as double) as l,
    cast((doc_id * 3) % 200 as double) as t,
    cast(50 + doc_id % 40 as double) as bw,
    cast(20 + doc_id % 30 as double) as bh,
    800.0 as im_w, 600.0 as im_h, 2.0 as sc
  from documents
),
ang as (
  select *, case when o in (0, 90, 180, 270)
                 then ((-o) % 360 + 360) % 360 end as a
  from inp
),
c as (
  -- searched CASE with no ELSE: null angle (invalid orientation)
  -- propagates null corners, matching the engine's row-level
  -- failure containment
  select *,
    case when a = 0 then l          when a = 90 then t + bh
         when a = 180 then im_w - l when a = 270 then im_h - (t + bh) end as x0,
    case when a = 0 then t + bh     when a = 90 then im_w - l
         when a = 180 then im_h - (t + bh) when a = 270 then l end as y0
  from ang
),
r as (
  select doc_id, script, a, sc, x0, y0,
    case when a = 0 then x0 + bw when a = 90 then x0
         when a = 180 then x0 - bw when a = 270 then x0 end as x1,
    case when a = 0 then y0      when a = 90 then y0 - bw
         when a = 180 then y0    when a = 270 then y0 + bw end as y1,
    case when a = 0 then x0 + bw when a = 90 then x0 - bh
         when a = 180 then x0 - bw when a = 270 then x0 + bh end as x2,
    case when a = 0 then y0 - bh when a = 90 then y0 - bw
         when a = 180 then y0 + bh when a = 270 then y0 + bw end as y2,
    case when a = 0 then x0      when a = 90 then x0 - bh
         when a = 180 then x0    when a = 270 then x0 + bh end as x3,
    case when a = 0 then y0 - bh when a = 90 then y0
         when a = 180 then y0 + bh when a = 270 then y0 end as y3
  from c
)
select doc_id,
  case script when 'Katakana' then 'Japanese' when 'Hiragana' then 'Japanese'
       when 'Han' then 'HanS' when 'Korean' then 'Hangul'
       else script end as script,
  cast(a as double) as angle_ccw,
  round(x0 / sc, 6) as r_x0, round(y0 / sc, 6) as r_y0,
  round(x1 / sc, 6) as r_x1, round(y1 / sc, 6) as r_y1,
  round(x2 / sc, 6) as r_x2, round(y2 / sc, 6) as r_y2,
  round(x3 / sc, 6) as r_x3, round(y3 / sc, 6) as r_y3
from r
"""


def q_extract_doctags(spark, sf_dir):
    """DocTags VLM-answer scan (vlm_pipeline.py:447-465 →
    engine/doctagsx.py, the inverse of the DocTags sink): per-document
    payload with title, leveled heading, ordered list, OTSL grid with
    an lcel column span, unknown-language code, empty formula (→
    not-decoded marker), captioned picture, checkbox, furniture footer,
    a page break, and loc tokens throughout. 56/61 reference
    groundtruth files round-trip byte-exact (5 marker-lossiness
    exclusions documented in tests/test_doctagsx_groundtruth.py)."""
    d = F.col("doc_id").cast("string")
    t1, t2 = _tok(1), _tok(2)
    payload = F.concat(
        F.lit("<doctag><title><loc_10><loc_10><loc_100><loc_20>T "), d,
        F.lit("</title>\n<section_header_level_1><loc_1><loc_2><loc_3>"
              "<loc_4>Doc "), d,
        F.lit("</section_header_level_1>\n<text>"), F.col("text"),
        F.lit("</text>\n<ordered_list><list_item><loc_5><loc_6><loc_7>"
              "<loc_8>alpha "), t1,
        F.lit("</list_item><list_item>beta "), t2,
        F.lit("</list_item></ordered_list>\n<picture><loc_20><loc_20>"
              "<loc_90><loc_80><caption><loc_1><loc_2><loc_3><loc_4>Fig "),
        d, F.lit(" caption</caption></picture>\n"
                 "<otsl><loc_1><loc_2><loc_3><loc_4><ched>a<ched>span"
                 "<lcel><nl><fcel>"),
        t1, F.lit("<fcel>"), d,
        F.lit("<fcel>7<nl></otsl>\n<page_break>\n<code><loc_9><loc_9>"
              "<loc_9><loc_9><_unknown_>print("), d,
        F.lit(")</code>\n<formula><loc_1><loc_2><loc_3><loc_4></formula>\n"
              "<checkbox_selected>opt "), t2,
        F.lit("</checkbox_selected>\n<page_footer>p. 2</page_footer>\n"
              "</doctag>"),
    )
    return _extract_docs(spark, sf_dir, payload, "doctags")


ORACLE_EXTRACT_DOCTAGS = """
with t as (
  select doc_id, text, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks
  from documents
)
select doc_id, 'success' as status,
  '# T ' || doc_id || chr(10) || chr(10)
  || '## Doc ' || doc_id || chr(10) || chr(10)
  || text || chr(10) || chr(10)
  || '1. alpha ' || toks[1] || chr(10) || '2. beta ' || toks[2]
  || chr(10) || chr(10)
  || 'Fig ' || doc_id || ' caption' || chr(10) || chr(10)
  || '<!-- image -->' || chr(10) || chr(10)
  || '| a | span | span |' || chr(10) || '| - | - | - |' || chr(10)
  || '| ' || toks[1] || ' | ' || doc_id || ' | 7 |' || chr(10) || chr(10)
  || '```' || chr(10) || 'print(' || doc_id || ')' || chr(10) || '```'
  || chr(10) || chr(10)
  || '<!-- formula-not-decoded -->' || chr(10) || chr(10)
  || '- [x] opt ' || toks[2] as extracted_text
from t
"""


def q_ocr_tsv_cells(spark, sf_dir):
    """Tesseract TSV stdout → OCR text cells
    (tesseract_ocr_cli_model.py:195-217, 360-389): header-positional
    column resolution, empty-text row filter, bbox/conf arithmetic.
    Tesseract is the stubbed boundary (the TSV arrives as a column:
    3 word rows per doc, one of them whitespace-only so it drops, plus
    tesseract's headerless structural rows with empty text)."""
    from docling_spark.operators.ocr_merge import tsv_ocr_cells

    d = F.col("doc_id")
    t1, t2 = _tok(1), _tok(2)
    hdr = ("level\tpage_num\tblock_num\tpar_num\tline_num\tword_num"
           "\tleft\ttop\twidth\theight\tconf\ttext")

    def row(level, left, top, w, h, conf, text_col):
        return F.concat(
            F.lit(f"\n{level}\t1\t1\t1\t1\t0\t"),
            left.cast("string"), F.lit("\t"), top.cast("string"),
            F.lit(f"\t{w}\t{h}\t{conf}\t"), text_col)

    tsv = F.concat(
        F.lit(hdr),
        row(2, d % 100, d % 50, 200, 30, -1, F.lit("")),      # block row
        row(5, d % 100, d % 50, 80, 20, 91, t1),
        row(5, (d % 100) + 90, d % 50, 60, 20, 72, t2),
        row(5, d % 100, (d % 50) + 25, 40, 20, 55, F.lit("   ")),
        row(5, (d % 100) + 160, d % 50, 50, 20, 88,
            F.concat(F.lit("w"), d.cast("string"))),
    )
    base = _docs(spark, sf_dir).select("doc_id", tsv.alias("tsv"))
    return tsv_ocr_cells(base).select(
        "doc_id", "cell_idx", "text",
        F.round("conf", 6).alias("conf"), "l", "t", "r", "b")


ORACLE_OCR_TSV_CELLS = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks,
         cast(doc_id % 100 as double) x, cast(doc_id % 50 as double) y
  from documents
)
select doc_id, 0 as cell_idx, toks[1] as text, 91/100.0 as conf,
       x as l, y as t, x + 80 as r, y + 20 as b from t
union all
select doc_id, 1, toks[2], 72/100.0, x + 90, y, x + 150, y + 20 from t
union all
select doc_id, 2, 'w' || doc_id, 88/100.0, x + 160, y, x + 210, y + 20 from t
"""


def q_ocr_merge_cells(spark, sf_dir):
    """OCR/PDF cell merge (base_ocr_model.py:274-340) as a page-keyed
    overlap LEFT ANTI join: PDF_FIRST priority keeps every programmatic
    cell and only the OCR cells that overlap none of them. Per doc: 2
    PDF cells; 3 OCR cells of which one overlaps a PDF cell (dropped),
    one touches at the boundary (closed-interval intersection — also
    dropped), one is disjoint (kept)."""
    from docling_spark.operators.ocr_merge import merge_ocr_pdf_cells

    d = F.col("doc_id")
    base = _docs(spark, sf_dir).select("doc_id", _tok(1).alias("tok"))
    pdf = base.select(
        "doc_id", F.col("tok").alias("text"), F.lit(1.0).alias("conf"),
        F.lit(0.0).alias("l"), F.lit(0.0).alias("t"),
        F.lit(100.0).alias("r"), F.lit(20.0).alias("b"),
    ).unionByName(base.select(
        "doc_id", F.concat(F.lit("p"), d.cast("string")).alias("text"),
        F.lit(1.0).alias("conf"), F.lit(0.0).alias("l"),
        F.lit(40.0).alias("t"), F.lit(100.0).alias("r"),
        F.lit(60.0).alias("b"),
    ))
    ocr = base.select(
        "doc_id", F.lit("overlapping").alias("text"),
        F.lit(0.9).alias("conf"), F.lit(50.0).alias("l"),
        F.lit(10.0).alias("t"), F.lit(150.0).alias("r"),
        F.lit(30.0).alias("b"),
    ).unionByName(base.select(
        "doc_id", F.lit("touching").alias("text"),
        F.lit(0.8).alias("conf"), F.lit(100.0).alias("l"),
        F.lit(0.0).alias("t"), F.lit(160.0).alias("r"),
        F.lit(20.0).alias("b"),
    )).unionByName(base.select(
        "doc_id", F.concat(F.lit("kept"), d.cast("string")).alias("text"),
        F.lit(0.7).alias("conf"), F.lit(200.0).alias("l"),
        F.lit(80.0).alias("t"), F.lit(260.0).alias("r"),
        F.lit(95.0).alias("b"),
    ))
    merged = merge_ocr_pdf_cells(ocr, pdf, priority="pdf_cells_first")
    return merged.select(
        "doc_id", "text", F.round("conf", 6).alias("conf"),
        "l", "t", "r", "b",
        F.col("from_ocr").cast("int").alias("from_ocr"))


ORACLE_OCR_MERGE_CELLS = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '')[1] tok
  from documents
)
select doc_id, tok as text, cast(1.0 as double) as conf,
       cast(0.0 as double) as l, cast(0.0 as double) as t,
       cast(100.0 as double) as r, cast(20.0 as double) as b,
       0 as from_ocr from t
union all
select doc_id, 'p' || doc_id, cast(1.0 as double), cast(0.0 as double),
       cast(40.0 as double), cast(100.0 as double), cast(60.0 as double),
       0 from t
union all
-- 'overlapping' intersects pdf cell 1; 'touching' shares the l=100 edge
-- (closed-interval rtree intersection drops it too); only the disjoint
-- cell survives the anti-join
select doc_id, 'kept' || doc_id, cast(0.7 as double), cast(200.0 as double),
       cast(80.0 as double), cast(260.0 as double), cast(95.0 as double),
       1 from t
"""


def q_export_yaml(spark, sf_dir):
    """YAML export sink + round-trip witness (the CLI's save_as_yaml,
    docling/cli/main.py:434,494-498): extract → serialize_yaml →
    extract_docling_yaml → markdown. The oracle predicts the markdown,
    so the hash only matches if the YAML export+import preserve the
    document exactly — 2/2 reference .md.yaml groundtruth files also
    pin the loader byte-exact (tests/test_yamlx.py)."""
    import pandas as pd

    from docling_spark.operators.extract_ops import extract_turns

    payload = F.concat(
        F.lit("<h1>Doc "), F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), F.col("text"),
        F.lit("</p><ul><li>item "), _tok(1), F.lit("</li></ul>"),
    )
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"), F.lit("user").alias("role"),
        F.lit(None).cast("timestamp").alias("ts"),
        payload.alias("text"), F.lit("html").alias("tool"),
    )

    def run(batches):
        from docling_spark.engine.jsonx import extract_docling_yaml
        from docling_spark.engine.serialize import serialize_yaml
        from docling_spark.operators.export import clean_item

        for pdf in batches:
            ids, texts = [], []
            for conv_id, items in zip(pdf["conv_id"], pdf["items"]):
                its = [clean_item(it) for it in items]
                y = serialize_yaml(its)
                t2, _items2, _m = extract_docling_yaml(y)
                ids.append(int(conv_id))
                texts.append(t2)
            yield pd.DataFrame({"doc_id": ids, "roundtrip_text": texts})

    return (
        extract_turns(d).select("conv_id", "items")
        .mapInPandas(run, "doc_id long, roundtrip_text string")
    )


ORACLE_EXPORT_YAML = """
with t as (
  select doc_id, text, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks
  from documents
)
select doc_id,
       '# Doc ' || doc_id || chr(10) || chr(10) || text
       || chr(10) || chr(10) || '- item ' || toks[1] as roundtrip_text
from t
"""


def q_asr_segments(spark, sf_dir):
    """ASR segment post-processing (asr_transcriber.py:44-177): whisper
    is the stubbed boundary (segments arrive as rows — per doc: a
    normal one, a zero-duration one repaired with the 1ms epsilon, a
    null-timestamp one and a blank one both dropped, a speakerless one
    defaulting to speaker-{id}); start-ordered rank + the to_string
    transcript line. Pure JVM."""
    from docling_spark.operators.asr_post import asr_segments_post

    d = F.col("doc_id")
    t1 = _tok(1)
    base = _docs(spark, sf_dir)

    def seg(start, end, spk, spk_id, text_col):
        return base.select(
            "doc_id",
            F.lit(start).cast("double").alias("start_time"),
            F.lit(end).cast("double").alias("end_time"),
            F.lit(spk).cast("string").alias("speaker"),
            F.lit(spk_id).cast("int").alias("speaker_id"),
            text_col.alias("text"),
        )

    segs = (
        seg(0.0, 2.5, "alice", None, F.concat(F.lit("hello "), t1))
        .unionByName(seg(2.5, 2.5, None, 1, F.lit("quick")))
        .unionByName(seg(None, 4.0, None, None, F.lit("lost")))
        .unionByName(seg(5.0, 7.25, None, None,
                         F.concat(F.lit("bye "), d.cast("string"))))
        .unionByName(seg(8.0, 9.0, "bob", None, F.lit("   ")))
    )
    return asr_segments_post(segs).select(
        "doc_id", "seg_rank", "start_time", "end_time", "speaker", "line")


ORACLE_ASR_SEGMENTS = """
with t as (
  select doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '')[1] tok
  from documents
)
select doc_id, 0 as seg_rank, cast(0.0 as double) as start_time,
       cast(2.5 as double) as end_time, 'alice' as speaker,
       '[time: 0.0-2.5] [speaker:alice] hello ' || tok as line
from t
union all
select doc_id, 1, cast(2.5 as double),
       cast(2.5 + 0.001 as double), 'speaker-1',
       '[time: 2.5-' || cast(cast(2.5 + 0.001 as double) as varchar)
       || '] [speaker:speaker-1] quick'
from t
union all
select doc_id, 2, cast(5.0 as double), cast(7.25 as double), null,
       '[time: 5.0-7.25] bye ' || doc_id
from t
"""


def q_ocr_regions(spark, sf_dir):
    """PDF-aware OCR region selection (base_ocr_model.py:106-153): a
    layout cluster becomes an OCR region iff it overlaps a bitmap rect
    OR overlaps no programmatic text cell. Per doc: cluster A overlaps
    the bitmap (kept), B overlaps only a text cell (eliminated), C is
    empty space (kept). Pure page-keyed semi/anti joins."""
    from docling_spark.operators.ocr_merge import ocr_regions

    base = _docs(spark, sf_dir).select("doc_id")

    def box(cid, l, t, r, b):
        return base.select(
            "doc_id", F.lit(cid).alias("cluster_id"),
            F.lit(float(l)).alias("l"), F.lit(float(t)).alias("t"),
            F.lit(float(r)).alias("r"), F.lit(float(b)).alias("b"))

    clusters = box(0, 0, 0, 100, 50).unionByName(
        box(1, 200, 0, 300, 50)).unionByName(box(2, 400, 0, 500, 50))
    bitmaps = base.select(
        "doc_id", F.lit(50.0).alias("l"), F.lit(10.0).alias("t"),
        F.lit(80.0).alias("r"), F.lit(40.0).alias("b"))
    texts = base.select(
        "doc_id", F.lit(210.0).alias("l"), F.lit(10.0).alias("t"),
        F.lit(290.0).alias("r"), F.lit(30.0).alias("b"))
    return ocr_regions(clusters, texts, bitmaps).select(
        "doc_id", "cluster_id", "l", "t", "r", "b")


ORACLE_OCR_REGIONS = """
select doc_id, 0 as cluster_id, cast(0 as double) as l,
       cast(0 as double) as t, cast(100 as double) as r,
       cast(50 as double) as b
from documents
union all
select doc_id, 2, cast(400 as double), cast(0 as double),
       cast(500 as double), cast(50 as double)
from documents
"""


def q_ocr_dedup_rects(spark, sf_dir):
    """OCR rect dedup + page coverage (base_ocr_model.py:155-210,
    _deduplicate_rects re-expressed at rect level): per doc three layout
    rects — two whose 20px-dilated boxes overlap (merged into one
    enclosing region) and one isolated (every 7th doc shifted so its
    dilation clips at the right page edge). Coverage = exact union area
    of the dilated clipped rects / page area. Packed per-page kernel
    (collect_list + one batched mapInPandas behind a pinned round-robin
    repartition)."""
    from docling_spark.operators.ocr_merge import dedup_rects

    d = F.col("doc_id")
    dx = (d % 50).cast("double")
    dy = ((d * 3) % 40).cast("double")
    base = _docs(spark, sf_dir).select("doc_id", dx.alias("dx"),
                                       dy.alias("dy"))

    def box(l, t, r, b):
        return base.select(
            "doc_id", l.alias("l"), t.alias("t"), r.alias("r"), b.alias("b"))

    dxc, dyc = F.col("dx"), F.col("dy")
    r1 = box(100 + dxc, 100 + dyc, 150 + dxc, 130 + dyc)
    r2 = box(160 + dxc, 140 + dyc, 200 + dxc, 160 + dyc)
    clip = (d % 7 == 0)
    r3 = base.select(
        "doc_id",
        F.when(clip, 560.0).otherwise(400.0).alias("l"),
        (100 + dyc).alias("t"),
        F.when(clip, 610.0).otherwise(450.0).alias("r"),
        (120 + dyc).alias("b"))
    rects = r1.unionByName(r2).unionByName(r3)
    out = dedup_rects(rects, page_w=612.0, page_h=792.0, dilation_size=20)
    return out.select("doc_id", "region_idx", "l", "t", "r", "b",
                      F.round("coverage", 6).alias("coverage"))


ORACLE_OCR_DEDUP_RECTS = """
with t as (
  select doc_id,
         cast(doc_id % 50 as double) dx,
         cast((doc_id * 3) % 40 as double) dy,
         doc_id % 7 = 0 as clip
  from documents
),
c as (
  -- dilated union areas: merged pair 70x50 + 60x40 - 10x10 = 5800;
  -- isolated rect 70x40 = 2800, or 62x40 = 2480 when its dilation
  -- clips at the 612pt page edge
  select *, round((5800 + case when clip then 2480 else 2800 end)
                  / (612.0 * 792.0), 6) as cov
  from t
)
select doc_id, 0 as region_idx,
       90 + dx as l, 90 + dy as t, 210 + dx as r, 170 + dy as b,
       cov as coverage
from c
union all
select doc_id, 1,
       case when clip then 550 else 390 end,
       90 + dy,
       case when clip then 612 else 460 end,
       130 + dy, cov
from c
"""


def q_gopher_quality(spark, sf_dir):
    """Gopher quality rules (Rae et al. 2021 App. A1.1) over documents
    whose text is enriched with doc_id-derived bullet/ellipsis/symbol
    lines so every signal path fires: per-doc signals + keep verdict,
    all JVM Column expressions (operators/webquality.py)."""
    from docling_spark.operators.webquality import gopher_quality

    d = _docs(spark, sf_dir)
    enriched = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("\n• first point\n• second point")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 == 0,
                   F.lit("\nto be continued...\nand more…")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit(" ### #hash")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return gopher_quality(enriched)


ORACLE_GOPHER_QUALITY = """
with e as (
  select doc_id,
         text
         || case when doc_id % 3 = 0
                 then chr(10) || '• first point' || chr(10) || '• second point'
                 else '' end
         || case when doc_id % 4 = 0
                 then chr(10) || 'to be continued...' || chr(10) || 'and more…'
                 else '' end
         || case when doc_id % 7 = 0 then ' ### #hash' else '' end as text
  from documents
),
t as (
  select doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') ltoks,
         string_split(text, chr(10)) lines
  from e
),
s as (
  select doc_id,
    case when trim(text) = '' then 0 else len(toks) end as n_words,
    length(regexp_replace(trim(text), '\\s+', '', 'g')) as n_nospace,
    len(regexp_extract_all(text, '#'))
      + len(regexp_extract_all(text, '\\.\\.\\.|…')) as n_sym,
    len(list_filter(lines, l -> regexp_matches(trim(l), '^[•‣▪*-]')))
      as n_bullet,
    len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$')))
      as n_ell,
    len(lines) as n_lines,
    len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) as n_alpha,
    len(list_filter(['the','be','to','of','and','that','have','with'],
                    w -> list_contains(ltoks, w))) as stopword_hits
  from t
),
sig as (
  select doc_id, n_words,
    round(case when n_words > 0 then n_nospace::double / n_words
               else 0.0 end, 6) as mean_word_len,
    round(case when n_words > 0 then n_sym::double / n_words
               else 0.0 end, 6) as symbol_word_ratio,
    round(n_bullet::double / n_lines, 6) as bullet_line_frac,
    round(n_ell::double / n_lines, 6) as ellipsis_line_frac,
    round(case when n_words > 0 then n_alpha::double / n_words
               else 0.0 end, 6) as alpha_word_frac,
    stopword_hits
  from s
)
select *,
  (n_words between 50 and 100000
   and mean_word_len between 3.0 and 10.0
   and symbol_word_ratio <= 0.1
   and bullet_line_frac <= 0.90
   and ellipsis_line_frac <= 0.30
   and alpha_word_frac >= 0.80
   and stopword_hits >= 2) as keep
from sig
"""


def q_url_normalize(spark, sf_dir):
    """URL canonicalization + URL-level dedup: four doc_id-derived URL
    shapes (mixed-case scheme/host, default ports, fragments, tracking
    params, unsorted query, trailing slash) collapse onto shared
    canonical forms; url_dedup groups on the canonical string
    (operators/webquality.py)."""
    from docling_spark.operators.webquality import url_dedup

    d = _docs(spark, sf_dir)
    doc_id = F.col("doc_id")
    grp = F.floor(doc_id / 7).cast("long").cast("string")
    url = (
        F.when(doc_id % 4 == 0, F.concat(
            F.lit("HTTP://Example.COM:80/path/"), grp,
            F.lit("/?utm_source=x&b=2&a=1#frag")))
        .when(doc_id % 4 == 1, F.concat(
            F.lit("https://CDN.site.org:443/assets/img"), grp,
            F.lit("?gclid=abc&z=9")))
        .when(doc_id % 4 == 2, F.concat(
            F.lit("http://example.com/path/"), grp, F.lit("?b=2&a=1")))
        .otherwise(F.concat(
            F.lit("https://news.site.org/story-"),
            (doc_id % 100).cast("string"), F.lit("/")))
    )
    return url_dedup(d.select("doc_id", url.alias("url")))


ORACLE_URL_NORMALIZE = """
with u as (
  select doc_id,
    case
      when doc_id % 4 = 0 then 'HTTP://Example.COM:80/path/'
           || cast(doc_id // 7 as varchar) || '/?utm_source=x&b=2&a=1#frag'
      when doc_id % 4 = 1 then 'https://CDN.site.org:443/assets/img'
           || cast(doc_id // 7 as varchar) || '?gclid=abc&z=9'
      when doc_id % 4 = 2 then 'http://example.com/path/'
           || cast(doc_id // 7 as varchar) || '?b=2&a=1'
      else 'https://news.site.org/story-'
           || cast(doc_id % 100 as varchar) || '/'
    end as url
  from documents
),
c1 as (  -- lowercase scheme://host, strip fragment
  select doc_id,
    regexp_replace(
      lower(regexp_extract(url, '^([a-zA-Z]+://[^/?#]*)', 1))
        || regexp_replace(url, '^[a-zA-Z]+://[^/?#]*', ''),
      '#.*$', '') as u
  from u
),
c2 as (  -- default ports, tracking params, separator cleanup
  select doc_id,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(u,
        '^(http://[^/?#:]*):80(/|\\?|$)', '\\1\\2'),
        '^(https://[^/?#:]*):443(/|\\?|$)', '\\1\\2'),
        '([?&])(utm_[a-z]+|fbclid|gclid|msclkid|ref|sessionid|phpsessid)=[^&#]*',
        '\\1', 'g'),
      '\\?&+', '?'), '&&+', '&', 'g'), '[?&]+$', '') as u
  from c1
),
c3 as (  -- sort query params, strip trailing slash on non-root path
  select doc_id,
    regexp_replace(
      case when regexp_extract(u, '\\?(.*)$', 1) = ''
           then regexp_extract(u, '^([^?]*)', 1)
           else regexp_extract(u, '^([^?]*)', 1) || '?' ||
                array_to_string(
                  list_sort(string_split(regexp_extract(u, '\\?(.*)$', 1),
                                         '&')), '&')
      end,
      '^([a-z]+://[^/?#]+/.+?)/(\\?|$)', '\\1\\2') as canonical_url
  from c2
)
select canonical_url,
       min(doc_id) as canonical_id,
       count(*) as n_dups
from c3
group by canonical_url
"""


_SCRIPT_SNIPPETS = [
    ("", ""),
    (" Привет мир это тест", "cyrillic"),
    (" 你好世界 这是测试", "cjk"),
    (" مرحبا بالعالم هذا اختبار", "arabic"),
    (" Γεια σου κόσμε αυτό είναι δοκιμή", "greek"),
]


def q_script_profile(spark, sf_dir):
    """Unicode script profiling (operators/webquality.py script_profile)
    over documents enriched with doc_id-selected multilingual snippets so
    every script path fires; per-script char counts + dominant script +
    dominant fraction, all regexp_count projections."""
    from docling_spark.operators.webquality import script_profile

    d = _docs(spark, sf_dir)
    snip = F.lit("")
    for k in range(1, 5):
        snip = F.when(F.col("doc_id") % 5 == k,
                      F.lit(_SCRIPT_SNIPPETS[k][0])).otherwise(snip)
    enriched = d.select(
        "doc_id", F.concat(F.col("text"), snip).alias("text"))
    return script_profile(enriched)


def _script_oracle() -> str:
    from docling_spark.operators.webquality import (
        SCRIPT_ORDER,
        SCRIPT_RANGES,
    )

    cnt = ",\n    ".join(
        f"len(regexp_extract_all(text, '[{SCRIPT_RANGES[s]}]')) as n_{s}"
        for s in SCRIPT_ORDER)
    total = " + ".join(f"n_{s}" for s in SCRIPT_ORDER)
    best = "greatest(" + ", ".join(f"n_{s}" for s in SCRIPT_ORDER) + ")"
    dom = "case\n    "
    dom += "\n    ".join(
        f"when n_{s} > 0 and n_{s} = {best} then '{s}'"
        for s in SCRIPT_ORDER)
    dom += "\n    else 'none' end"
    snips = "\n      ".join(
        f"when doc_id % 5 = {k} then text || '{_SCRIPT_SNIPPETS[k][0]}'"
        for k in range(1, 5))
    cols = ", ".join(f"n_{s}" for s in SCRIPT_ORDER)
    return f"""
with e as (
  select doc_id,
    case
      {snips}
      else text end as text
  from documents
),
s as (
  select doc_id,
    {cnt}
  from e
)
select doc_id, {cols},
  {dom} as dominant_script,
  round(case when {total} > 0
             then {best}::double / ({total}) else 0.0 end, 6)
    as dominant_frac
from s
"""


def q_readability(spark, sf_dir):
    """Flesch reading-ease (webquality.flesch_reading_ease) over
    documents: word/sentence/vowel-group counts + the published score."""
    from docling_spark.operators.webquality import flesch_reading_ease

    from docling_spark.operators.textstats import token_count

    d = _docs(spark, sf_dir)
    c = F.col("text")
    return d.select(
        "doc_id",
        token_count(c).alias("n_words"),
        F.greatest(F.regexp_count(c, F.lit(r"[.!?]+")), F.lit(1))
        .alias("n_sentences"),
        F.regexp_count(F.lower(c), F.lit("[aeiouy]+")).alias("n_syllables"),
        flesch_reading_ease(c).alias("flesch"),
    )


ORACLE_READABILITY = """
with t as (
  select doc_id, text,
    case when trim(text) = '' then 0
         else len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) end as n_words,
    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) as n_sentences,
    len(regexp_extract_all(lower(text), '[aeiouy]+')) as n_syllables
  from documents
)
select doc_id, n_words, n_sentences, n_syllables,
  case when n_words > 0
       then round(206.835 - 1.015 * (n_words::double / n_sentences)
                  - 84.6 * (n_syllables::double / n_words), 4)
       else 0.0 end as flesch
from t
"""


def q_conversation_stats(spark, sf_dir):
    """Per-conversation dialogue analytics (operators/extract_ops.py
    conversation_stats): a doc_id-derived variable-length transcript
    (2–6 turns, user/assistant/tool role rotation, variable inter-turn
    gaps, substring payloads) → turn counts per role, tool-call count,
    role-alternation rate, mean gap seconds, total chars. One lag window
    + one groupBy, both keyed on conv_id."""
    from docling_spark.operators.extract_ops import conversation_stats

    d = _docs(spark, sf_dir)
    doc_id = F.col("doc_id")
    turns = (
        d.select("doc_id", "text")
        .withColumn("turn_idx", F.explode(
            F.sequence(F.lit(0), (F.lit(1) + doc_id % 5).cast("int"))))
        .select(
            F.concat(F.lit("conv"),
                     F.lpad(doc_id.cast("string"), 8, "0")).alias("conv_id"),
            F.col("turn_idx"),
            F.when(F.col("turn_idx") % 3 == 2, F.lit("tool"))
            .when(F.col("turn_idx") % 2 == 0, F.lit("user"))
            .otherwise(F.lit("assistant")).alias("role"),
            F.expr("substring(text, 1 + 13 * turn_idx, 40 + doc_id % 40)")
            .alias("text"),
            F.when(F.col("turn_idx") % 3 == 2, F.lit("code"))
            .otherwise(F.lit("")).alias("tool"),
            F.timestamp_seconds(
                F.lit(1767225600)
                + F.col("turn_idx") * (F.lit(1) + doc_id % 7)
                + (F.col("turn_idx") % 2) * 3).alias("ts"),
        )
    )
    return conversation_stats(turns)


ORACLE_CONVERSATION_STATS = """
with turns as (
  select doc_id,
         'conv' || lpad(cast(doc_id as varchar), 8, '0') as conv_id,
         turn_idx,
         case when turn_idx % 3 = 2 then 'tool'
              when turn_idx % 2 = 0 then 'user'
              else 'assistant' end as role,
         case when turn_idx % 3 = 2 then 'code' else '' end as tool,
         turn_idx * (1 + doc_id % 7) + (turn_idx % 2) * 3 as sec,
         length(substr(text, cast(1 + 13 * turn_idx as int),
                       cast(40 + doc_id % 40 as int))) as n_chars
  from documents, generate_series(0, 5) t(turn_idx)
  where turn_idx <= 1 + doc_id % 5
),
w as (
  select *,
         lag(role) over (partition by conv_id order by turn_idx) as prev_role,
         sec - lag(sec) over (partition by conv_id order by turn_idx) as gap_s
  from turns
)
select conv_id,
       count(*) as n_turns,
       cast(sum(case when role = 'user' then 1 else 0 end) as bigint)
         as n_user,
       cast(sum(case when role = 'assistant' then 1 else 0 end) as bigint)
         as n_assistant,
       cast(sum(case when tool <> '' then 1 else 0 end) as bigint)
         as n_tool_calls,
       round(sum(case when prev_role is not null and prev_role <> role
                      then 1 else 0 end)::double / (count(*) - 1), 6)
         as alternation,
       round(sum(gap_s)::double / (count(*) - 1), 6) as mean_gap_s,
       cast(sum(n_chars) as bigint) as total_chars
from w
group by conv_id
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # extraction engine end-to-end
        "extract_html_heading": q_extract_html_heading,
        "extract_html_list_table": q_extract_html_list_table,
        "extract_html_form": q_extract_html_form,
        "extract_pdfish_pictures": q_extract_pdfish_pictures,
        "extract_plain_dirty": q_extract_plain_dirty,
        "extract_code_passthrough": q_extract_code_passthrough,
        "extract_csv_table": q_extract_csv_table,
        "extract_md_doc": q_extract_md_doc,
        "extract_status_counts": q_extract_status_counts,
        "extract_format_policy": q_extract_format_policy,
        "turn_ordering": q_turn_ordering,
        # pdfish layout path
        "extract_pdfish_reading_order": q_extract_pdfish_reading_order,
        "debug_svg_pages": q_debug_svg_pages,
        "extract_pdfish_hyphen_merge": q_extract_pdfish_hyphen_merge,
        "extract_items_spans": q_extract_items_spans,
        "extract_vtt_dialogue": q_extract_vtt_dialogue,
        "extract_email": q_extract_email,
        "extract_asciidoc": q_extract_asciidoc,
        "extract_epub": q_extract_epub,
        "extract_docling_json": q_extract_docling_json,
        "extract_docx": q_extract_docx,
        "extract_pdf": q_extract_pdf,
        "extract_pdf_encrypted": q_extract_pdf_encrypted,
        "pdf_hyperlinks": q_pdf_hyperlinks,
        "extract_doc": q_extract_doc,
        "extract_doc_rich": q_extract_doc_rich,
        "extract_xls": q_extract_xls,
        "extract_ppt": q_extract_ppt,
        "bigram_lm": q_bigram_lm,
        "line_perplexity": q_line_perplexity,
        "ccnet_buckets": q_ccnet_buckets,
        "lm_vocab_overflow": q_lm_vocab_overflow,
        "bloom_filter_build": q_bloom_filter_build,
        "bloom_dedup_check": q_bloom_dedup_check,
        "bm25_scores": q_bm25_scores,
        "extract_xbrl": q_extract_xbrl,
        "extract_deepseek": q_extract_deepseek,
        "extract_xlsx": q_extract_xlsx,
        "extract_pptx": q_extract_pptx,
        "extract_ebcdic": q_extract_ebcdic,
        "extract_boxnote": q_extract_boxnote,
        "extract_jats": q_extract_jats,
        "extract_odt": q_extract_odt,
        "extract_uspto": q_extract_uspto,
        "extract_latex": q_extract_latex,
        "extract_image": q_extract_image,
        "heading_levels": q_heading_levels,
        "export_docling_json": q_export_docling_json,
        "export_html": q_export_html,
        "export_vtt": q_export_vtt,
        "extract_doclang": q_extract_doclang,
        "extract_mets": q_extract_mets,
        "extract_chandra": q_extract_chandra,
        "extract_dots": q_extract_dots,
        "picture_cell_join": q_picture_cell_join,
        "caption_attach": q_caption_attach,
        "enrich_items": q_enrich_items,
        "picture_annotations": q_picture_annotations,
        "curation_funnel": q_curation_funnel,
        "decontaminate": q_decontaminate,
        "scrub_pii": q_scrub_pii,
        "repetition_stats": q_repetition_stats,
        "c4_line_clean": q_c4_line_clean,
        "stratified_sample": q_stratified_sample,
        "paragraph_dedup": q_paragraph_dedup,
        "unigram_logprob": q_unigram_logprob,
        "pack_sequences": q_pack_sequences,
        "tfidf_topk": q_tfidf_topk,
        "domain_cap": q_domain_cap,
        "mixture_plan": q_mixture_plan,
        "dedup_canonical": q_dedup_canonical,
        "dup_span_removal": q_dup_span_removal,
        "semantic_dedup": q_semantic_dedup,
        "quality_classifier": q_quality_classifier,
        "dsir_weights": q_dsir_weights,
        "diversity_sample": q_diversity_sample,
        "bookmark_join": q_bookmark_join,
        "heading_hierarchy": q_heading_hierarchy,
        "chunk_budget": q_chunk_budget,
        "hybrid_chunks": q_hybrid_chunks,
        "conversation_assembly": q_conversation_assembly,
        # chunkers
        "chunk_fixed_tokens": q_chunk_fixed_tokens,
        "chunk_heading_context": q_chunk_heading_context,
        # multimodal
        "media_features": q_media_features,
        "media_probe": q_media_probe,
        "media_resize": q_media_resize,
        "frame_sample": q_frame_sample,
        "token_counts": q_token_counts,
        "rolling_fingerprint": q_rolling_fingerprint,
        "vocab_topk": q_vocab_topk,
        # export sinks
        "export_doctags": q_export_doctags,
        "extract_template_kv": q_extract_template_kv,
        "diarize_windows": q_diarize_windows,
        "speaker_segments": q_speaker_segments,
        "speaker_assign": q_speaker_assign,
        "scene_detect": q_scene_detect,
        "scene_keyframes": q_scene_keyframes,
        "quality_lr_train": q_quality_lr_train,
        "temperature_mixture": q_temperature_mixture,
        "chart_cells": q_chart_cells,
        "extract_glm": q_extract_glm,
        "extract_doctags": q_extract_doctags,
        "code_formula_post": q_code_formula_post,
        "vlm_image_size": q_vlm_image_size,
        "ocr_rotate_boxes": q_ocr_rotate_boxes,
        "ocr_tsv_cells": q_ocr_tsv_cells,
        "ocr_merge_cells": q_ocr_merge_cells,
        "ocr_regions": q_ocr_regions,
        "ocr_dedup_rects": q_ocr_dedup_rects,
        "gopher_quality": q_gopher_quality,
        "url_normalize": q_url_normalize,
        "conversation_stats": q_conversation_stats,
        "script_profile": q_script_profile,
        "readability": q_readability,
        "asr_segments": q_asr_segments,
        "export_yaml": q_export_yaml,
        # metrics sidecar / confidence
        "extract_metrics_by_format": q_extract_metrics_by_format,
        "confidence_report": q_confidence_report,
        # transcript training-data builders
        "training_pairs": q_training_pairs,
        "turn_context": q_turn_context,
        # text analysis
        "doc_stats": q_doc_stats,
        # dedup
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_edit_distance": q_dedup_edit_distance,
        "minhash_jaccard_est": q_minhash_jaccard_est,
        "incremental_dedup": q_incremental_dedup,
        "lsh_bucket_overflow": q_lsh_bucket_overflow,
        "dedup_components": q_dedup_components,
        "simhash": q_simhash,
        "simhash_near_pairs": q_simhash_near_pairs,
        "simhash_chunk_overflow": q_simhash_chunk_overflow,
        # similarity
        "embed_cosine_pairs": q_embed_cosine_pairs,
        "embed_quantize": q_embed_quantize,
        "quantized_knn": q_quantized_knn,
        "embed_bucket_overflow": q_embed_bucket_overflow,
        "embed_knn_of_zero": q_embed_knn_of_zero,
        "ann_bucket_pairs": q_ann_bucket_pairs,
        "ann_topk_batch": q_ann_topk_batch,
        "ivf_assign": q_ivf_assign,
        "pq_encode": q_pq_encode,
        "pq_adc_topk": q_pq_adc_topk,
        "kmeans_codebook": q_kmeans_codebook,
        # relational operator classes
        "agg_pricing_summary": q_agg_pricing_summary,
        "window_order_rank": q_window_order_rank,
        "anti_join_no_orders": q_anti_join_no_orders,
        "broadcast_brand_revenue": q_broadcast_brand_revenue,
        "percentile_confidence": q_percentile_confidence,
        "asof_join": q_asof_join,
        "interval_join": q_interval_join,
        "salted_join": q_salted_join,
        "sessionize_events": q_sessionize_events,
        "events_hourly": q_events_hourly,
        "events_rollup": q_events_rollup,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "extract_html_heading": ORACLE_HTML_HEADING,
        "extract_html_list_table": ORACLE_HTML_LIST_TABLE,
        "extract_html_form": ORACLE_HTML_FORM,
        "extract_pdfish_pictures": ORACLE_PDFISH_PICTURES,
        "extract_plain_dirty": ORACLE_PLAIN_DIRTY,
        "extract_code_passthrough": ORACLE_CODE,
        "extract_csv_table": ORACLE_CSV,
        "extract_md_doc": ORACLE_MD,
        "extract_status_counts": ORACLE_STATUS_COUNTS,
        "extract_format_policy": ORACLE_FORMAT_POLICY,
        "turn_ordering": ORACLE_TURN_ORDERING,
        "extract_pdfish_reading_order": ORACLE_PDFISH_READING_ORDER,
        "debug_svg_pages": ORACLE_DEBUG_SVG,
        "extract_pdfish_hyphen_merge": ORACLE_PDFISH_HYPHEN,
        "extract_items_spans": ORACLE_ITEMS_SPANS,
        "extract_vtt_dialogue": ORACLE_VTT_DIALOGUE,
        "extract_email": ORACLE_EMAIL,
        "extract_asciidoc": ORACLE_ASCIIDOC,
        "extract_epub": ORACLE_EXTRACT_EPUB,
        "extract_docling_json": ORACLE_DOCLING_JSON,
        "extract_docx": ORACLE_EXTRACT_DOCX,
        "extract_pdf": ORACLE_EXTRACT_PDF,
        "extract_pdf_encrypted": ORACLE_EXTRACT_PDF_ENCRYPTED,
        "pdf_hyperlinks": ORACLE_PDF_HYPERLINKS,
        "extract_doc": ORACLE_EXTRACT_DOC,
        "extract_doc_rich": ORACLE_EXTRACT_DOC_RICH,
        "extract_xls": ORACLE_EXTRACT_XLS,
        "extract_ppt": ORACLE_EXTRACT_PPT,
        "bigram_lm": ORACLE_BIGRAM_LM,
        "line_perplexity": ORACLE_LINE_PPL,
        "ccnet_buckets": ORACLE_CCNET,
        "lm_vocab_overflow": ORACLE_LM_OVERFLOW,
        "bloom_filter_build": ORACLE_BLOOM_BUILD,
        "bloom_dedup_check": ORACLE_BLOOM_CHECK,
        "bm25_scores": ORACLE_BM25,
        "extract_xbrl": ORACLE_EXTRACT_XBRL,
        "extract_deepseek": ORACLE_EXTRACT_DEEPSEEK,
        "extract_xlsx": ORACLE_EXTRACT_XLSX,
        "extract_pptx": ORACLE_EXTRACT_PPTX,
        "extract_ebcdic": ORACLE_EXTRACT_EBCDIC,
        "extract_boxnote": ORACLE_EXTRACT_BOXNOTE,
        "extract_jats": ORACLE_EXTRACT_JATS,
        "extract_odt": ORACLE_EXTRACT_ODT,
        "extract_uspto": ORACLE_EXTRACT_USPTO,
        "extract_latex": ORACLE_EXTRACT_LATEX,
        "extract_image": ORACLE_EXTRACT_IMAGE,
        "heading_levels": ORACLE_HEADING_LEVELS,
        "export_docling_json": ORACLE_EXPORT_DOCLING_JSON,
        "export_html": ORACLE_EXPORT_HTML,
        "export_vtt": ORACLE_EXPORT_VTT,
        "extract_doclang": ORACLE_EXTRACT_DOCLANG,
        "extract_mets": ORACLE_EXTRACT_METS,
        "extract_chandra": ORACLE_EXTRACT_CHANDRA,
        "extract_dots": ORACLE_EXTRACT_DOTS,
        "picture_cell_join": ORACLE_PICTURE_CELL_JOIN,
        "caption_attach": ORACLE_CAPTION_ATTACH,
        "enrich_items": ORACLE_ENRICH_ITEMS,
        "picture_annotations": ORACLE_PICTURE_ANNOTATIONS,
        "curation_funnel": ORACLE_CURATION_FUNNEL,
        "decontaminate": ORACLE_DECONTAMINATE,
        "scrub_pii": ORACLE_SCRUB_PII,
        "repetition_stats": ORACLE_REPETITION_STATS,
        "c4_line_clean": ORACLE_C4_LINE_CLEAN,
        "stratified_sample": ORACLE_STRATIFIED_SAMPLE,
        "paragraph_dedup": ORACLE_PARAGRAPH_DEDUP,
        "unigram_logprob": ORACLE_UNIGRAM_LOGPROB,
        "pack_sequences": ORACLE_PACK_SEQUENCES,
        "tfidf_topk": ORACLE_TFIDF_TOPK,
        "domain_cap": ORACLE_DOMAIN_CAP,
        "mixture_plan": ORACLE_MIXTURE_PLAN,
        "dedup_canonical": ORACLE_DEDUP_CANONICAL,
        "dup_span_removal": ORACLE_DUP_SPAN_REMOVAL,
        "semantic_dedup": _semantic_dedup_oracle(),
        "quality_classifier": ORACLE_QUALITY_CLASSIFIER,
        "dsir_weights": ORACLE_DSIR,
        "diversity_sample": ORACLE_DIVERSITY_SAMPLE,
        "bookmark_join": ORACLE_BOOKMARK_JOIN,
        "heading_hierarchy": ORACLE_HEADING_HIERARCHY,
        "chunk_budget": ORACLE_CHUNK_BUDGET,
        "hybrid_chunks": ORACLE_HYBRID_CHUNKS,
        "conversation_assembly": ORACLE_CONVERSATION_ASSEMBLY,
        "chunk_fixed_tokens": ORACLE_CHUNK_FIXED,
        "chunk_heading_context": ORACLE_CHUNK_HEADING,
        "media_features": ORACLE_MEDIA_FEATURES,
        "media_probe": ORACLE_MEDIA_PROBE,
        "media_resize": ORACLE_MEDIA_RESIZE,
        "frame_sample": ORACLE_FRAME_SAMPLE,
        "token_counts": ORACLE_TOKEN_COUNTS,
        "rolling_fingerprint": ORACLE_ROLLING_FINGERPRINT,
        "vocab_topk": ORACLE_VOCAB_TOPK,
        "export_doctags": ORACLE_EXPORT_DOCTAGS,
        "extract_template_kv": ORACLE_TEMPLATE_KV,
        "diarize_windows": ORACLE_DIARIZE_WINDOWS,
        "speaker_segments": ORACLE_SPEAKER_SEGMENTS,
        "speaker_assign": ORACLE_SPEAKER_ASSIGN,
        "scene_detect": ORACLE_SCENE_DETECT,
        "scene_keyframes": ORACLE_SCENE_KEYFRAMES,
        "quality_lr_train": ORACLE_QUALITY_LR_TRAIN,
        "temperature_mixture": ORACLE_TEMPERATURE_MIXTURE,
        "chart_cells": ORACLE_CHART_CELLS,
        "extract_glm": ORACLE_EXTRACT_GLM,
        "extract_doctags": ORACLE_EXTRACT_DOCTAGS,
        "code_formula_post": ORACLE_CODE_FORMULA_POST,
        "vlm_image_size": ORACLE_VLM_IMAGE_SIZE,
        "ocr_rotate_boxes": ORACLE_OCR_ROTATE_BOXES,
        "ocr_tsv_cells": ORACLE_OCR_TSV_CELLS,
        "ocr_merge_cells": ORACLE_OCR_MERGE_CELLS,
        "ocr_regions": ORACLE_OCR_REGIONS,
        "ocr_dedup_rects": ORACLE_OCR_DEDUP_RECTS,
        "gopher_quality": ORACLE_GOPHER_QUALITY,
        "url_normalize": ORACLE_URL_NORMALIZE,
        "conversation_stats": ORACLE_CONVERSATION_STATS,
        "script_profile": _script_oracle(),
        "readability": ORACLE_READABILITY,
        "asr_segments": ORACLE_ASR_SEGMENTS,
        "export_yaml": ORACLE_EXPORT_YAML,
        "extract_metrics_by_format": ORACLE_METRICS_BY_FORMAT,
        "confidence_report": ORACLE_CONFIDENCE_REPORT,
        "training_pairs": ORACLE_TRAINING_PAIRS,
        "turn_context": ORACLE_TURN_CONTEXT,
        "doc_stats": ORACLE_DOC_STATS,
        "dedup_exact": ORACLE_DEDUP_EXACT,
        "minhash_signatures": ORACLE_MINHASH,
        "dedup_jaccard": ORACLE_JACCARD,
        "dedup_minhash_lsh": ORACLE_MINHASH_LSH,
        "dedup_edit_distance": ORACLE_EDIT_DISTANCE,
        "minhash_jaccard_est": ORACLE_MINHASH_EST,
        "incremental_dedup": ORACLE_INCREMENTAL_DEDUP,
        "lsh_bucket_overflow": ORACLE_LSH_OVERFLOW,
        "dedup_components": ORACLE_DEDUP_COMPONENTS,
        "simhash": ORACLE_SIMHASH,
        "simhash_near_pairs": ORACLE_SIMHASH_NEAR,
        "simhash_chunk_overflow": _simhash_overflow_oracle(),
        "embed_cosine_pairs": _cosine_pairs_oracle(),
        "embed_quantize": ORACLE_EMBED_QUANTIZE,
        "quantized_knn": ORACLE_QUANTIZED_KNN,
        "embed_bucket_overflow": _embed_overflow_oracle(),
        "embed_knn_of_zero": ORACLE_KNN_ZERO,
        "ann_bucket_pairs": _ann_oracle(),
        "ann_topk_batch": _ann_topk_batch_oracle(),
        "ivf_assign": ORACLE_IVF_ASSIGN,
        "pq_encode": ORACLE_PQ_ENCODE,
        "pq_adc_topk": ORACLE_PQ_ADC_TOPK,
        "kmeans_codebook": ORACLE_KMEANS_CODEBOOK,
        "agg_pricing_summary": ORACLE_PRICING,
        "window_order_rank": ORACLE_WINDOW_RANK,
        "anti_join_no_orders": ORACLE_ANTI_JOIN,
        "broadcast_brand_revenue": ORACLE_BRAND_REVENUE,
        "percentile_confidence": ORACLE_PERCENTILE,
        "asof_join": ORACLE_ASOF_JOIN,
        "interval_join": ORACLE_INTERVAL_JOIN,
        "salted_join": ORACLE_SALTED_JOIN,
        "sessionize_events": ORACLE_SESSIONIZE,
        "events_hourly": ORACLE_EVENTS_HOURLY,
        "events_rollup": ORACLE_EVENTS_ROLLUP,
    }
