"""Web-corpus preparation: URL canonicalization, URL-level dedup, and
HTML -> text extraction.

The first dedup stage of every web-crawl training pipeline (RefinedWeb
§3.2, C4, CCNet) is URL-level: canonicalize, then keep one document per
canonical URL.  Everything here is pure JVM column expressions
(regexp + array functions — codegen, map-side, streaming-safe): no
UDFs, no shuffle beyond the final dedup groupBy, so at 100 TB the
canonicalization cost is a free ride on the first scan.

Canonical form (deliberately conservative, documented):
- scheme and host lowercased; userinfo and fragment stripped
- leading ``www.`` removed; default ports (``:80`` http / ``:443``
  https) removed
- trailing slashes stripped from the path
- tracking parameters removed (``utm_*``, ``gclid``, ``fbclid``,
  ``msclkid``, ``mc_cid``, ``mc_eid``), remaining query parameters
  sorted.  Only unambiguous tracking params are in the default set:
  ``ref``/``igshid``-style params are content-bearing on major sites
  (GitHub ``?ref=<branch>`` selects different file contents), so
  stripping them would silently collapse distinct documents; pass
  ``tracking_param_re`` to widen the set per-corpus
- non-URL strings (no ``scheme://``) pass through trimmed, so the
  operator is safe on dirty columns
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: query parameters that never change page content — unambiguous
#: trackers only (``ref``/``igshid`` deliberately excluded: they select
#: content on many sites, e.g. GitHub ``?ref=<branch>``)
TRACKING_PARAM_RE = "^(utm_[a-z0-9]+|gclid|fbclid|msclkid|mc_cid|mc_eid)="

_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"


def canonicalize_url(
    col, tracking_param_re: str = TRACKING_PARAM_RE
) -> F.Column:
    """Canonical URL as a column expression (see module docstring).

    ``tracking_param_re`` widens/narrows the stripped query-param set
    per-corpus; the default keeps only unambiguous trackers."""
    u = F.trim(F.col(col) if isinstance(col, str) else col)
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    rest = F.regexp_replace(u, _SCHEME_RE, "")
    rest = F.regexp_replace(rest, "#.*$", "")  # fragment
    hostport = F.regexp_extract(rest, "^([^/?]*)", 1)
    tail = F.regexp_replace(rest, "^[^/?]*", "")
    host = F.lower(F.regexp_replace(hostport, "^.*@", ""))  # userinfo
    host = F.regexp_replace(host, "^www\\.", "")
    host = (
        F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .otherwise(host)
    )
    path = F.regexp_extract(tail, "^([^?]*)", 1)
    path = F.regexp_replace(path, "/+$", "")
    query = F.regexp_extract(tail, "\\?(.*)$", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(tracking_param_re),
    )
    q2 = F.array_join(F.array_sort(params), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q2 == "", F.lit("")).otherwise(F.concat(F.lit("?"), q2)),
    )
    return F.when(scheme == "", u).otherwise(canon)


def duckdb_canonicalize_sql(
    col: str, tracking_param_re: str = TRACKING_PARAM_RE
) -> str:
    """The DuckDB expression replaying ``canonicalize_url`` on ``col``
    (used by the parity oracles; DuckDB lacks Spark's parse_url, so the
    replay mirrors the regexp pipeline step for step)."""
    # NB: DuckDB regexp_extract returns NULL on no-match where Spark
    # returns '' — every extract is coalesced
    scheme = (
        f"lower(coalesce(regexp_extract(trim({col}), "
        f"'^([A-Za-z][A-Za-z0-9+.-]*)://', 1), ''))"
    )
    rest = (
        f"regexp_replace(regexp_replace(trim({col}), "
        f"'^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '')"
    )
    hostport = f"coalesce(regexp_extract({rest}, '^([^/?]*)', 1), '')"
    tail = f"regexp_replace({rest}, '^[^/?]*', '')"
    host0 = f"regexp_replace(lower(regexp_replace({hostport}, '^.*@', '')), '^www\\.', '')"
    host = (
        f"CASE WHEN {scheme} = 'http' THEN regexp_replace({host0}, ':80$', '') "
        f"WHEN {scheme} = 'https' THEN regexp_replace({host0}, ':443$', '') "
        f"ELSE {host0} END"
    )
    path = (
        f"regexp_replace(coalesce(regexp_extract({tail}, '^([^?]*)', 1), ''), "
        f"'/+$', '')"
    )
    query = f"coalesce(regexp_extract({tail}, '\\?(.*)$', 1), '')"
    q2 = (
        f"coalesce(array_to_string(list_sort(list_filter("
        f"string_split({query}, '&'), "
        f"p -> p <> '' AND NOT regexp_matches(p, '{tracking_param_re}'))), "
        f"'&'), '')"
    )
    return (
        f"CASE WHEN {scheme} = '' THEN trim({col}) ELSE "
        f"{scheme} || '://' || {host} || {path} || "
        f"(CASE WHEN {q2} = '' THEN '' ELSE '?' || {q2} END) END"
    )


def html_to_text(col) -> F.Column:
    """HTML -> plain-text extraction as a pure JVM regexp chain — the
    boilerplate-strip stage every web-crawl pipeline runs before quality
    filtering (C4 / CCNet strip markup before scoring).  Conservative,
    deterministic, and SQL-replayable:

    1. drop ``<script>``/``<style>`` elements INCLUDING their content
       (case-insensitive, dot-matches-newline),
    2. drop HTML comments,
    3. table structure linearizes the ``q_xlsx`` way: source tabs
       become spaces first, then ``</td>``/``</th>`` close tags become
       tabs — cells tab-joined, rows newline-joined (training corpora
       are full of tabular HTML whose columns would otherwise fuse),
    4. block-level close tags (``p``, ``div``, ``br``, ``li``, headings,
       ``tr``) become newlines so words from different blocks don't fuse,
    5. every remaining tag is dropped,
    6. the five XML core entities plus ``&nbsp;`` are decoded
       (numeric entities are out of scope, documented),
    7. horizontal whitespace collapses (cell tabs survive as single
       tabs; a row's trailing tab drops); blank lines collapse; edges
       trim.

    Output for table-free, tab-free HTML is byte-identical to the
    pre-table-aware chain (source tabs previously collapsed to a
    space; they still do).
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, "(?is)<script\\b[^>]*>.*?</script\\s*>", " ")
    c = F.regexp_replace(c, "(?is)<style\\b[^>]*>.*?</style\\s*>", " ")
    c = F.regexp_replace(c, "(?s)<!--.*?-->", " ")
    # image alt text is real content (captions) — surface it before
    # the generic tag strip would drop the whole element
    c = F.regexp_replace(
        c,
        "(?i)<img\\b[^>]*\\balt=(?:\"([^\"]*)\"|'([^']*)'"
        "|([^\\s\"'>]+))[^>]*>",
        " $1$2$3 ")
    c = F.regexp_replace(c, "\\t", " ")        # only OUR tabs from here on
    c = F.regexp_replace(c, "(?i)</t[dh]\\s*>", "\t")
    c = F.regexp_replace(
        c,
        "(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|blockquote)\\b[^>]*>",
        "\n",
    )
    c = F.regexp_replace(c, "<[^>]*>", " ")
    for ent, repl in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
        ("&apos;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        c = F.regexp_replace(c, ent, repl)
    c = F.regexp_replace(c, "[ \\x0B\\f\\r]+", " ")
    c = F.regexp_replace(c, " ?\\t[\\t ]*", "\t")   # cell seam: one tab
    c = F.regexp_replace(c, "[ \\t]*\\n ?", "\n")   # trailing cell close
    c = F.regexp_replace(c, "\\n+", "\n")           # drops at row end
    return F.regexp_replace(c, "^\\s+|\\s+$", "")


#: block-level boundary tags for the boilerplate classifier — each
#: open OR close tag ends the current text block
_BLOCK_TAG_RE = (
    "(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|section|article|"
    "header|footer|nav|aside|main|blockquote|dd|dt|dl)\\b[^>]*>"
)
_ANCHOR_RE = "(?is)<a\\b[^>]*>(.*?)</a\\s*>"


def _block_clean(c: F.Column) -> F.Column:
    """Strip remaining (inline) tags, decode the core entities, collapse
    whitespace, trim — the per-block text normalization shared by the
    content and anchor sides of the density computation."""
    c = F.regexp_replace(c, "<[^>]*>", " ")
    for ent, repl in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
        ("&apos;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        c = F.regexp_replace(c, ent, repl)
    c = F.regexp_replace(c, "\\s+", " ")
    return F.trim(c)


def extract_main_text(
    col,
    min_block_chars: int = 25,
    max_link_density_pct: int = 34,
) -> F.Column:
    """Main-content extraction with boilerplate-block REMOVAL — the
    jusText / trafilatura-class upgrade over ``html_to_text`` (which
    strips markup but keeps nav/footer chrome in the text).

    Classifier (two features, the load-bearing pair from jusText,
    Pomikálek 2011): split the page into text blocks at block-level tag
    boundaries, then keep a block only if (a) its cleaned text has at
    least ``min_block_chars`` characters and (b) its link density —
    anchor-text chars * 100 / text chars — is at most
    ``max_link_density_pct``.  Navigation, footers, tag clouds and
    pagination are short and link-dense on both counts; article prose
    is long and link-sparse.  Kept blocks join with newlines.

    Pure JVM: regexp split + higher-order array functions riding the
    scan — no UDF, no shuffle, streaming-safe; at 100 TB this is a free
    passenger on the first read like the rest of the weburl stages."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, "(?is)<script\\b[^>]*>.*?</script\\s*>", " ")
    c = F.regexp_replace(c, "(?is)<style\\b[^>]*>.*?</style\\s*>", " ")
    c = F.regexp_replace(c, "(?s)<!--.*?-->", " ")
    segs = F.split(c, _BLOCK_TAG_RE)
    scored = F.transform(
        segs,
        lambda b: F.struct(
            _block_clean(b).alias("t"),
            _block_clean(
                F.array_join(
                    F.regexp_extract_all(b, F.lit(_ANCHOR_RE), F.lit(1)),
                    " ",
                )
            ).alias("a"),
        ),
    )
    kept = F.filter(
        scored,
        lambda s: (F.length(s["t"]) >= F.lit(min_block_chars))
        & (
            F.length(s["a"]) * F.lit(100)
            <= F.length(s["t"]) * F.lit(max_link_density_pct)
        ),
    )
    return F.array_join(F.transform(kept, lambda s: s["t"]), "\n")


def duckdb_html_to_text_sql(col: str) -> str:
    """DuckDB replay of ``html_to_text`` (parity oracle; 'g' flags make
    DuckDB's first-match-only regexp_replace match Spark's replace-all)."""
    c = col
    c = f"regexp_replace({c}, '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g')"
    c = f"regexp_replace({c}, '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g')"
    c = f"regexp_replace({c}, '(?s)<!--.*?-->', ' ', 'g')"
    c = (
        f"regexp_replace({c}, "
        "'(?i)<img\\b[^>]*\\balt=(?:\"([^\"]*)\"|''([^'']*)''"
        "|([^\\s\"''>]+))[^>]*>', ' \\1\\2\\3 ', 'g')"
    )
    c = f"regexp_replace({c}, '\\t', ' ', 'g')"
    c = f"regexp_replace({c}, '(?i)</t[dh]\\s*>', chr(9), 'g')"
    c = (
        f"regexp_replace({c}, "
        f"'(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|blockquote)\\b[^>]*>', "
        f"chr(10), 'g')"
    )
    c = f"regexp_replace({c}, '<[^>]*>', ' ', 'g')"
    for ent, repl in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&apos;", "''"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        c = f"regexp_replace({c}, '{ent}', '{repl}', 'g')"
    c = f"regexp_replace({c}, '[ \\x0B\\f\\r]+', ' ', 'g')"
    c = f"regexp_replace({c}, ' ?\\t[\\t ]*', chr(9), 'g')"
    c = f"regexp_replace({c}, '[ \\t]*\\n ?', chr(10), 'g')"
    c = f"regexp_replace({c}, '\\n+', chr(10), 'g')"
    return f"regexp_replace({c}, '^\\s+|\\s+$', '', 'g')"


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """One survivor per canonical URL: the min-id document, with the
    group size.  The canonicalization is map-side; the only shuffle is
    the dedup groupBy on the canonical key — the same shape as exact
    text dedup (dedup.exact_dedup), so it scales identically."""
    canon = df.withColumn("canonical_url", canonicalize_url(url_col))
    return canon.groupBy("canonical_url").agg(
        F.min(id_col).alias("survivor_id"),
        F.count(F.lit(1)).alias("n_urls"),
    )


def incremental_url_dedup(
    shard: DataFrame,
    seen_urls: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Admit a new crawl shard against the already-ingested canonical-URL
    index — the nightly-shard form of ``url_dedup`` (the same two-stage
    shape as dedup.incremental_exact_dedup): (1) within-shard
    keep-lowest-id per canonical URL, (2) anti-join the survivors
    against the persisted ``canonical_url`` set.  Equals running
    ``url_dedup`` over (old corpus + shard) and keeping shard rows —
    the q_incr_url gate checks exactly that invariant.

    At scale the anti-join shuffles only canonical-URL keys; bucket the
    seen table by canonical_url for a one-sided shuffle.  Returns
    surviving shard rows with ``canonical_url`` attached, ready to
    append to the index."""
    canon = shard.withColumn("canonical_url", canonicalize_url(url_col))
    within = canon.groupBy("canonical_url").agg(
        F.min_by(F.struct(*shard.columns), F.col(id_col)).alias("row")
    )
    within = within.select("canonical_url", "row.*")
    return within.join(
        seen_urls.select("canonical_url").distinct(),
        "canonical_url",
        "left_anti",
    )


def web_corpus_pipeline(
    pages: DataFrame,
    *,
    id_col: str = "doc_id",
    url_col: str = "url",
    html_col: str = "html",
    min_tokens: int = 10,
    seed_docs: DataFrame | None = None,
    min_seed_margin_ppm: int = 0,
) -> DataFrame:
    """The crawl-to-corpus composition (the web mirror of
    corpus.prepare_training_corpus): raw (url, html) pages ->
    URL-canonical dedup (one page per canonical URL, min id) ->
    HTML boilerplate strip -> token-count quality floor -> optional
    seed-vs-rest classifier filter (classify.quality_classifier_filter).

    Returns (doc_id, canonical_url, text, n_tokens).  Every stage is
    pure JVM expressions over one scan until the dedup groupBy — the
    only shuffles are the canonical-URL dedup and (if enabled) the
    classifier's vocab-sized aggregations."""
    from .textanalysis import token_count

    canon = pages.withColumn("canonical_url", canonicalize_url(url_col))
    surv = canon.groupBy("canonical_url").agg(
        F.min_by(F.struct(*pages.columns), F.col(id_col)).alias("row")
    )
    surv = surv.select("canonical_url", "row.*")
    text = surv.withColumn("text", html_to_text(html_col)).withColumn(
        "n_tokens", token_count("text")
    )
    quality = text.filter(F.col("n_tokens") >= min_tokens)
    out = quality.select(id_col, "canonical_url", "text", "n_tokens")
    if seed_docs is not None:
        from .classify import quality_classifier_filter

        out = quality_classifier_filter(
            out, seed_docs, id_col=id_col, min_ppm=min_seed_margin_ppm
        ).select(id_col, "canonical_url", "text", "n_tokens")
    return out


def stream_url_admission(
    page_stream: DataFrame,
    state_dir: str,
    *,
    url_col: str = "url",
    id_col: str = "doc_id",
    bucketed_state: bool = False,
    n_buckets: int = 64,
    table_prefix: str | None = None,
):
    """The STREAMING face of URL-level dedup (``admission`` driver): each
    micro-batch of crawl rows is admitted via ``incremental_url_dedup``
    against the persisted ``index/`` of canonical URLs, bucketed by
    ``canonical_url`` under ``bucketed_state=True``.  ``survivors/``
    holds the surviving rows + canonical_url."""
    from . import admission

    return admission.run(
        page_stream,
        state_dir,
        lambda batch, state: incremental_url_dedup(
            batch, state("index"), url_col, id_col
        ),
        [
            admission.State(
                "index", "canonical_url string",
                lambda batch, surv: surv.select("canonical_url"),
                ("canonical_url",),
            )
        ],
        bucketed_state=bucketed_state,
        n_buckets=n_buckets,
        table_prefix=table_prefix,
    )


def host_stats(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-host crawl profile: document count, distinct canonical URLs,
    mean path depth (per-mille).  The host key is tiny-domain, so the
    aggregation is a map-side-combine groupBy."""
    canon = df.withColumn("canonical_url", canonicalize_url(url_col))
    host = F.regexp_extract("canonical_url", _SCHEME_RE + "([^/?]*)", 2)
    depth = F.size(
        F.filter(
            F.split(F.regexp_replace("canonical_url", _SCHEME_RE + "[^/?]*", ""), "/"),
            lambda s: s != "",
        )
    )
    return (
        canon.withColumn("host", host)
        .withColumn("path_depth", depth)
        .filter(F.col("host") != "")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("canonical_url").alias("n_canonical"),
            (F.sum("path_depth") * 1000 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("depth_permille"),
        )
    )


def warc_to_pages(
    media: DataFrame,
    payload_col: str = "payload",
    id_col: str = "warc_id",
) -> DataFrame:
    """WARC bytes -> page rows: explode each WARC payload (plain or
    per-record-gzip, the Common Crawl layout) into one row per
    200-status text/html response record — ``(warc_id, record_idx,
    url, html)``.  This is where a real 100-TB crawl enters the corpus
    pipeline: WARC segments land as binary columns (one row per ~1 GB
    segment), this operator fans them out, and everything downstream
    (``url_dedup`` -> ``html_to_text`` -> quality floor) is the
    existing lane.

    mapInPandas over Arrow batches — the same codec-boundary placement
    as the image/audio decoders: record framing, gzip members, and HTTP
    parsing are per-payload Python (operators/warc.py), the fan-out
    row explosion stays columnar."""
    from collections.abc import Iterator

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("record_idx", T.LongType()),
            T.StructField("url", T.StringType()),
            T.StructField("html", T.StringType()),
        ]
    )

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        from .warc import warc_pages

        for pdf in it:
            rows = {id_col: [], "record_idx": [], "url": [], "html": []}
            for wid, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload or b"")
                for idx, url, html in warc_pages(b):
                    rows[id_col].append(wid)
                    rows["record_idx"].append(idx)
                    rows["url"].append(url)
                    rows["html"].append(html)
            yield pd.DataFrame(rows)

    return media.mapInPandas(batches, out_schema)


def warc_to_documents(
    media: DataFrame,
    payload_col: str = "payload",
    id_col: str = "warc_id",
) -> DataFrame:
    """Mixed-content WARC fan-out: one row per 200-status HTML OR PDF
    response record — ``(warc_id, record_idx, url, content_type,
    text, body)`` where HTML rows carry charset-decoded markup in
    ``text`` and PDF rows carry raw bytes in ``body``.  The
    typed-column split keeps each downstream extractor on its own
    branch (JVM ``html_to_text`` vs ``pdf.pdf_to_text``) with no
    per-row dispatch cost."""
    from collections.abc import Iterator

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("record_idx", T.LongType()),
            T.StructField("url", T.StringType()),
            T.StructField("content_type", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("body", T.BinaryType()),
        ]
    )

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        from .warc import warc_documents

        cols = [f.name for f in out_schema.fields]
        for pdf in it:
            rows = {c: [] for c in cols}
            for wid, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload or b"")
                for idx, url, ctype, text, body in warc_documents(b):
                    rows[id_col].append(wid)
                    rows["record_idx"].append(idx)
                    rows["url"].append(url)
                    rows["content_type"].append(ctype)
                    rows["text"].append(text)
                    rows["body"].append(body)
            yield pd.DataFrame(rows)

    return media.mapInPandas(batches, out_schema)


def warc_mixed_corpus(
    media: DataFrame,
    *,
    payload_col: str = "payload",
    id_col: str = "warc_id",
    docs_per_warc: int = 1_000_000,
) -> DataFrame:
    """Crawl-to-text over MIXED content types: WARC segments fan out
    once, HTML rows take the pure-JVM ``html_to_text`` branch, PDF
    rows take the from-scratch ``pdf.pdf_to_text`` extractor
    (strict=False: a corrupt PDF yields its deterministic fake rather
    than failing the crawl), and the branches union into one
    ``(doc_id, url, content_type, text)`` corpus table.  ``doc_id`` is
    the same dense ``warc_id * docs_per_warc + record_idx`` contract
    as ``warc_corpus_pipeline``.

    Scale shape: one fan-out pass; each branch is map-side (regexp
    chain / Arrow-batched parse); the union is plan-level only.  The
    single join is the PDF branch re-attaching (url, content_type) to
    its extracted text on the dense doc_id — the PDF slice of a crawl
    is the small side by orders of magnitude (AQE broadcasts it)."""
    from .pdf import pdf_to_text

    docs = warc_to_documents(media, payload_col, id_col).select(
        (
            F.col(id_col) * F.lit(docs_per_warc) + F.col("record_idx")
        ).alias("doc_id"),
        "url",
        "content_type",
        "text",
        "body",
    )
    html = docs.filter(F.col("content_type") == "text/html").select(
        "doc_id",
        "url",
        "content_type",
        html_to_text("text").alias("text"),
    )
    pdfs = docs.filter(F.col("content_type") == "application/pdf")
    pdf_texts = pdf_to_text(
        pdfs.select(F.col("doc_id").alias("media_id"),
                    F.col("body").alias("payload")),
        strict=False,
    ).select(F.col("media_id").alias("doc_id"), F.col("text"))
    pdf_rows = (
        pdfs.select("doc_id", "url", "content_type")
        .join(pdf_texts, "doc_id")
        .select("doc_id", "url", "content_type", "text")
    )
    return html.unionByName(pdf_rows)


def warc_corpus_pipeline(
    media: DataFrame,
    *,
    payload_col: str = "payload",
    id_col: str = "warc_id",
    min_tokens: int = 10,
    docs_per_warc: int = 1_000_000,
) -> DataFrame:
    """The full Common-Crawl-shaped composition: WARC segments ->
    page fan-out -> ``web_corpus_pipeline`` (URL-canonical dedup ->
    HTML strip -> token floor).  ``doc_id`` is the dense
    ``warc_id * docs_per_warc + record_idx`` (stable across runs and
    partitionings — record order inside a WARC is physical)."""
    pages = warc_to_pages(media, payload_col, id_col).select(
        (
            F.col(id_col) * F.lit(docs_per_warc) + F.col("record_idx")
        ).alias("doc_id"),
        "url",
        "html",
    )
    return web_corpus_pipeline(pages, min_tokens=min_tokens)


_SITEMAP_ENTITIES = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
    ("&apos;", "'"), ("&amp;", "&"),
)


def _xml_text(col) -> F.Column:
    """Trim + decode the five XML core entities (the escaping the
    sitemaps.org protocol REQUIRES for URLs; numeric refs out of
    scope, documented).  ``&amp;`` last so ``&amp;lt;`` round-trips."""
    c = F.trim(col)
    for ent, repl in _SITEMAP_ENTITIES:
        c = F.regexp_replace(c, ent, repl)
    return F.nullif(c, F.lit(""))


def sitemap_urls(
    df: DataFrame, xml_col: str = "sitemap_xml"
) -> DataFrame:
    """Sitemap XML (sitemaps.org protocol) -> one row per ``<url>``
    entry: the input columns (minus the XML) plus ``url``, ``lastmod``,
    ``changefreq``, ``priority_permille``.  Pure JVM regexp + explode —
    the sitemap fan-out rides the scan like every other weburl stage;
    entries without a ``<loc>`` are dropped (spec: loc is required).

    A crawl pipeline runs this between frontier discovery and
    robots_filter: sitemaps enumerate the URLs a host WANTS crawled,
    robots gates what it permits."""
    blocks = F.regexp_extract_all(
        F.col(xml_col), F.lit("(?s)<url\\b[^>]*>(.*?)</url>"), F.lit(1)
    )
    keep = [c for c in df.columns if c != xml_col]
    ex = df.select(*keep, F.explode(blocks).alias("__b"))
    tag = lambda t: _xml_text(  # noqa: E731
        F.regexp_extract("__b", f"(?s)<{t}[^>]*>(.*?)</{t}>", 1)
    )
    return (
        ex.select(
            *keep,
            tag("loc").alias("url"),
            tag("lastmod").alias("lastmod"),
            tag("changefreq").alias("changefreq"),
            F.round(tag("priority").cast("double") * 1000)
            .cast("long")
            .alias("priority_permille"),
        )
        .filter(F.col("url").isNotNull())
    )


def sitemap_index_urls(
    df: DataFrame, xml_col: str = "sitemap_xml"
) -> DataFrame:
    """Sitemap INDEX XML -> one row per child ``<sitemap>``: input
    columns plus ``sitemap_url``, ``lastmod`` — the recursion step a
    crawler follows before fetching the leaf sitemaps."""
    blocks = F.regexp_extract_all(
        F.col(xml_col),
        F.lit("(?s)<sitemap\\b[^>]*>(.*?)</sitemap>"),
        F.lit(1),
    )
    keep = [c for c in df.columns if c != xml_col]
    ex = df.select(*keep, F.explode(blocks).alias("__b"))
    tag = lambda t: _xml_text(  # noqa: E731
        F.regexp_extract("__b", f"(?s)<{t}[^>]*>(.*?)</{t}>", 1)
    )
    return ex.select(
        *keep,
        tag("loc").alias("sitemap_url"),
        tag("lastmod").alias("lastmod"),
    ).filter(F.col("sitemap_url").isNotNull())


def page_metadata(df: DataFrame, html_col: str = "html") -> DataFrame:
    """HTML head metadata as filterable columns: ``page_title``,
    ``meta_description``, ``og_title``, ``canonical_url``, ``lang`` —
    the fields a web-corpus pipeline filters and dedups on BEFORE
    paying for body extraction (a canonical-URL hint beats the crawl
    URL for dedup; ``lang`` beats n-gram lang-id when present).

    Pure JVM regexp riding the scan (no UDF, no shuffle).  Attribute
    order is handled for the two-attribute tags (``name``/``property``
    before or after ``content``); values are entity-decoded like the
    other weburl stages; absent fields are NULL."""
    c = F.col(html_col)

    def attr_pair(key_attr: str, key_val: str) -> F.Column:
        # <meta name="description" content="..."> in either order
        fwd = F.regexp_extract(
            c,
            f"(?is)<meta\\b[^>]*{key_attr}=[\"']{key_val}[\"']"
            f"[^>]*content=[\"']([^\"']*)[\"']",
            1,
        )
        rev = F.regexp_extract(
            c,
            f"(?is)<meta\\b[^>]*content=[\"']([^\"']*)[\"']"
            f"[^>]*{key_attr}=[\"']{key_val}[\"']",
            1,
        )
        return _xml_text(F.when(fwd != "", fwd).otherwise(rev))

    return df.select(
        *df.columns,
        _xml_text(
            F.regexp_extract(c, "(?is)<title[^>]*>(.*?)</title>", 1)
        ).alias("page_title"),
        attr_pair("name", "description").alias("meta_description"),
        attr_pair("property", "og:title").alias("og_title"),
        _xml_text(
            F.regexp_extract(
                c,
                "(?is)<link\\b[^>]*rel=[\"']canonical[\"']"
                "[^>]*href=[\"']([^\"']*)[\"']",
                1,
            )
        ).alias("canonical_url"),
        _xml_text(
            F.regexp_extract(
                c, "(?is)<html\\b[^>]*\\blang=[\"']([^\"']*)[\"']", 1
            )
        ).alias("lang"),
    )


def feed_entries(df: DataFrame, xml_col: str = "feed_xml") -> DataFrame:
    """RSS 2.0 / Atom feed XML -> one row per ``<item>`` / ``<entry>``:
    the input columns (minus the XML) plus ``kind`` ('rss'/'atom'),
    ``title``, ``link``, ``guid``, ``published``.

    Feeds are the third discovery channel of a crawl frontier after
    sitemaps and hyperlinks (and the freshest: they enumerate NEW
    content).  Same shape as ``sitemap_urls``: pure JVM regexp +
    explode, so the fan-out rides the scan — no UDFs, no shuffle.

    Field mapping per spec: RSS ``<link>`` is element text while Atom
    ``<link>`` is self-closing with an ``href`` attribute; RSS ``guid``
    maps to Atom ``id``; RSS ``pubDate`` maps to Atom ``published``
    falling back to ``updated``.  Entries without a title AND a link
    are dropped (boilerplate-free contract).  Entity decoding matches
    ``sitemap_urls`` (the five core XML entities)."""
    items = F.regexp_extract_all(
        F.col(xml_col), F.lit("(?s)<item\\b[^>]*>(.*?)</item>"), F.lit(1)
    )
    entries = F.regexp_extract_all(
        F.col(xml_col), F.lit("(?s)<entry\\b[^>]*>(.*?)</entry>"), F.lit(1)
    )
    blocks = F.concat(
        F.transform(
            items,
            lambda b: F.struct(
                F.lit("rss").alias("kind"), b.alias("body")
            ),
        ),
        F.transform(
            entries,
            lambda b: F.struct(
                F.lit("atom").alias("kind"), b.alias("body")
            ),
        ),
    )
    keep = [c for c in df.columns if c != xml_col]
    ex = df.select(*keep, F.explode(blocks).alias("__e"))
    body = F.col("__e.body")
    tag = lambda t: _xml_text(  # noqa: E731
        F.regexp_extract(body, f"(?s)<{t}[^>]*>(.*?)</{t}>", 1)
    )
    href = _xml_text(
        F.regexp_extract(body, "<link\\b[^>]*href=\"([^\"]*)\"", 1)
    )
    return (
        ex.select(
            *keep,
            F.col("__e.kind").alias("kind"),
            tag("title").alias("title"),
            F.coalesce(tag("link"), href).alias("link"),
            F.coalesce(tag("guid"), tag("id")).alias("guid"),
            F.coalesce(
                tag("pubDate"), tag("published"), tag("updated")
            ).alias("published"),
        )
        .filter(F.col("title").isNotNull() | F.col("link").isNotNull())
    )


def extract_links(
    df: DataFrame,
    html_col: str = "html",
    base_url_col: str | None = None,
) -> DataFrame:
    """HTML -> one row per hyperlink: the input columns (minus the
    HTML) plus ``href`` (entity-decoded) and ``anchor_text`` (tags
    stripped, whitespace collapsed).  When ``base_url_col`` is given,
    relative hrefs (``/path`` and ``path`` forms) resolve against the
    page's scheme://host — the link-graph feedstock (host_link_graph
    below turns it into pagerank-ready edges).  Fragment-only and
    ``javascript:``/``mailto:`` pseudo-links are dropped.  Pure JVM
    regexp fan-out riding the scan, like every other weburl stage."""
    c = F.col(html_col)
    pairs = F.regexp_extract_all(
        c,
        F.lit("(?is)<a\\b[^>]*href=[\"']([^\"']*)[\"'][^>]*>(.*?)</a\\s*>"),
        F.lit(0),
    )
    keep = [x for x in df.columns if x != html_col]
    ex = df.select(*keep, F.explode(pairs).alias("__a"))
    href = _xml_text(
        F.regexp_extract("__a", "(?is)href=[\"']([^\"']*)[\"']", 1)
    )
    anchor = _block_clean(
        F.regexp_extract("__a", "(?is)>(.*)</a\\s*>$", 1)
    )
    out = ex.select(*keep, href.alias("href"), anchor.alias("anchor_text"))
    out = out.filter(
        F.col("href").isNotNull()
        & ~F.col("href").startswith("#")
        & ~F.lower("href").rlike("^(javascript|mailto):")
    )
    if base_url_col is not None:
        origin = F.regexp_extract(
            F.col(base_url_col), _SCHEME_RE + "[^/?#]*", 0
        )
        out = out.withColumn(
            "href",
            F.when(F.col("href").rlike(_SCHEME_RE), F.col("href"))
            .when(
                F.col("href").startswith("/"),
                F.concat(origin, F.col("href")),
            )
            .otherwise(F.concat(origin, F.lit("/"), F.col("href"))),
        )
    return out


def extract_image_refs(
    df: DataFrame,
    html_col: str = "html",
    base_url_col: str | None = None,
) -> DataFrame:
    """HTML -> one row per ``<img>``: the input columns (minus the
    HTML) plus ``src`` (entity-decoded, relative forms resolved
    against the page origin when ``base_url_col`` is given) and
    ``caption`` (the ``alt`` text, falling back to ``title``) — the
    image-text pair mining step of a LAION-style multimodal corpus
    (alt text IS the training caption).  ``data:`` URIs and empty srcs
    are dropped; attribute order is handled both ways.  Pure JVM
    regexp fan-out riding the scan."""
    c = F.col(html_col)
    tags = F.regexp_extract_all(
        c, F.lit("(?is)<img\\b[^>]*>"), F.lit(0)
    )
    keep = [x for x in df.columns if x != html_col]
    ex = df.select(*keep, F.explode(tags).alias("__t"))

    def attr(name: str) -> F.Column:
        return _xml_text(
            F.regexp_extract(
                "__t", f"(?is)\\b{name}=[\"']([^\"']*)[\"']", 1
            )
        )

    out = ex.select(
        *keep,
        attr("src").alias("src"),
        F.coalesce(attr("alt"), attr("title")).alias("caption"),
    ).filter(
        F.col("src").isNotNull()
        & ~F.lower("src").startswith("data:")
    )
    if base_url_col is not None:
        origin = F.regexp_extract(
            F.col(base_url_col), _SCHEME_RE + "[^/?#]*", 0
        )
        out = out.withColumn(
            "src",
            F.when(F.col("src").rlike(_SCHEME_RE), F.col("src"))
            .when(
                F.col("src").startswith("/"),
                F.concat(origin, F.col("src")),
            )
            .otherwise(F.concat(origin, F.lit("/"), F.col("src"))),
        )
    return out


def host_link_graph(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Pages -> weighted host-level link edges ``(src_host, dst_host,
    n_links)``, self-loops dropped — the input ``graph.pagerank``
    ranks for crawl prioritization / domain-quality weighting.  Link
    extraction and host projection ride the scan; the only shuffle is
    the (src, dst) count groupBy (host-domain-sized keys, map-side
    combined)."""
    links = extract_links(pages, html_col, base_url_col=url_col)
    src = F.regexp_extract(
        canonicalize_url(url_col), _SCHEME_RE + "([^/?]*)", 2
    )
    dst = F.regexp_extract(
        canonicalize_url(F.col("href")), _SCHEME_RE + "([^/?]*)", 2
    )
    return (
        links.select(src.alias("src_host"), dst.alias("dst_host"))
        .filter(
            (F.col("src_host") != "")
            & (F.col("dst_host") != "")
            & (F.col("src_host") != F.col("dst_host"))
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def crawl_frontier(
    sitemaps: DataFrame | None,
    feeds: DataFrame | None,
    robots: DataFrame,
    agent: str = "*",
    *,
    sitemap_xml_col: str = "sitemap_xml",
    feed_xml_col: str = "feed_xml",
    robots_host_col: str = "host",
    robots_txt_col: str = "robots_txt",
) -> DataFrame:
    """Crawl-frontier construction — the composition a crawler runs
    before fetching anything: sitemap URLs (what hosts WANT crawled) +
    feed entry links (what's NEW) -> canonicalize -> one row per
    canonical URL (``source`` prefers 'sitemap' as the authoritative
    channel; ``n_sources`` counts corroboration) -> RFC 9309 robots
    filter (what hosts PERMIT).

    Output: (url, host, source, n_sources), robots-allowed rows only.
    URLs without a parseable host are dropped (nothing to fetch).

    Scale shape: both discovery channels are pure-JVM regexp fan-outs
    riding their scans; the only corpus-sized shuffle is the
    canonical-URL groupBy; robots rule sets are host-keyed and tiny
    (AQE-broadcast, the robots_decisions contract)."""
    from .robots import robots_filter

    parts = []
    if sitemaps is not None:
        parts.append(
            sitemap_urls(sitemaps, sitemap_xml_col).select(
                F.col("url"), F.lit("sitemap").alias("source")
            )
        )
    if feeds is not None:
        parts.append(
            feed_entries(feeds, feed_xml_col)
            .filter(F.col("link").rlike(_SCHEME_RE))
            .select(F.col("link").alias("url"), F.lit("feed").alias("source"))
        )
    if not parts:
        raise ValueError("need at least one of sitemaps/feeds")
    allu = parts[0]
    for p in parts[1:]:
        allu = allu.unionByName(p)
    canon = allu.select(
        canonicalize_url("url").alias("url"),
        F.when(F.col("source") == "sitemap", 0).otherwise(1).alias("__pri"),
        "source",
    )
    deduped = (
        canon.groupBy("url")
        .agg(
            F.min(F.struct("__pri", "source")).alias("__s"),
            F.count_distinct("source").alias("n_sources"),
        )
        .select(
            "url",
            F.col("__s.source").alias("source"),
            F.col("n_sources").cast("long").alias("n_sources"),
        )
        .withColumn(
            "host", F.regexp_extract("url", _SCHEME_RE + "([^/?]*)", 2)
        )
        .filter(F.col("host") != "")
    )
    return robots_filter(
        deduped, robots, agent,
        url_col="url", host_col=robots_host_col, txt_col=robots_txt_col,
    ).select("url", "host", "source", "n_sources")


def warc_digest_dedup(
    media: DataFrame,
    payload_col: str = "payload",
    id_col: str = "warc_id",
) -> DataFrame:
    """Content-level dedup of WARC pages WITHOUT parsing any HTML: one
    survivor per payload digest (WARC-Payload-Digest when stamped, a
    computed sha256 otherwise), keep-first by (warc_id, record_idx).
    Returns ``(warc_id, record_idx, url, digest)`` survivor keys.

    Scale shape: the digest pre-pass is map-side (headers only, bodies
    hashed once); the dedup shuffles 40-byte digest keys, never page
    bodies — at Common Crawl scale (~25% exact-duplicate payloads) this
    removes a quarter of the downstream HTML/quality work for the price
    of one compact keyed shuffle."""
    from collections.abc import Iterator

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("record_idx", T.LongType()),
            T.StructField("url", T.StringType()),
            T.StructField("digest", T.StringType()),
        ]
    )

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        from .warc import warc_page_digests

        for pdf in it:
            rows = {id_col: [], "record_idx": [], "url": [], "digest": []}
            for wid, payload in zip(pdf[id_col], pdf[payload_col]):
                for idx, url, digest in warc_page_digests(
                    bytes(payload or b"")
                ):
                    rows[id_col].append(wid)
                    rows["record_idx"].append(idx)
                    rows["url"].append(url)
                    rows["digest"].append(digest)
            yield pd.DataFrame(rows)

    digests = media.mapInPandas(batches, out_schema)
    return (
        digests.groupBy("digest")
        .agg(
            F.min_by(
                F.struct(id_col, "record_idx", "url"),
                F.struct(id_col, "record_idx"),
            ).alias("row")
        )
        .select("row.*", "digest")
    )
