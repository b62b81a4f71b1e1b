"""Web-crawl ingestion queries: WARC record parsing, HTML -> main-text
extraction (jusText-style block/link-density filtering), URL
canonicalization + canonical-URL dedup, and domain-level curation
stats. The Common-Crawl-shaped FRONT END of a training-data pipeline —
everything upstream of the dedup/quality families the repo already
ships. No reference analogue (the reference ingests live collections,
SURVEY §2.1); semantics follow public practice (ISO 28500 WARC;
Pomikálek 2011 block link-density).

Fixture discipline (same as synth_wav/synth_frames): the HTML pages
and raw URLs are built deterministically FROM the documents table with
pure string expressions, and every oracle rebuilds the identical
strings in DuckDB SQL before replaying the extraction chain — so the
driver's value-hash compare covers fixture, parser, and analytics
end-to-end.

Scale notes: extraction is a narrow per-row projection (no explode,
blocks stay per-doc arrays — functions/html.py); WARC parsing at scale
enters through sources/warc.py::read_warc (record-grain lineSep
splitting at the source). The groupBy-collect blob assembly below is
fixture synthesis only, never the read path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hummingbird_spark.functions.html import (
    BLOCK_SPLIT_RE,
    ENTITY_TOKEN_RE,
    LEGACY_ENTITIES,
    NAMED_ENTITIES,
    TRACKING_PARAMS,
    SECOND_LEVEL_SUFFIXES,
    W1252_REMAP,
    _LEGACY_LMAX,
    _LEGACY_LMIN,
    block_stats_from,
    block_structs,
    canonical_url,
    main_text_from,
    registered_domain,
    url_host,
)
from hummingbird_spark.functions.text import tokens
from hummingbird_spark.plans.queries_r7 import (
    _PR_DAMP,
    _PR_ROUNDS,
    _PR_SCALE,
)
from hummingbird_spark.sources.tables import load_table
from hummingbird_spark.sources.warc import (
    parse_warc_records,
    render_warc_record,
)

# Extraction thresholds (integer-exact in both engines: the density
# test is anchor_chars*100 <= 34*chars, never a float divide).
MIN_BLOCK_CHARS = 10
MAX_LINK_DENSITY = 0.34
_LD_PCT = int(MAX_LINK_DENSITY * 100)

N_WARC_FILES = 16

# ---------------------------------------------------------------------------
# Shared HTML-page fixture: one synthetic page per document. Segments
# alternate literal chunks with per-doc expressions so the Spark build
# and the SQL rebuild cannot drift.
# ---------------------------------------------------------------------------

_PAGE_SEGS: tuple[tuple[str, str], ...] = (
    ("lit", '<html><head><title>Doc '),
    ("id", ""),
    ("lit", '</title><style>p {color: red}</style>'
            '<script type="text/javascript">var x = 1 < 2; track("'),
    ("id", ""),
    ("lit", '");</script></head><body>'
            '<nav><a href="/home">Home</a> '
            '<a href="/about">About &amp; Contact</a></nav>'
            '<!-- build '),
    ("id", ""),
    ("lit", ' --><h1>'),
    ("src", ""),
    ("lit", ' report '),
    ("id", ""),
    ("lit", '</h1><div id="main"><p>'),
    ("p1", ""),
    ("lit", '</p><p>'),
    ("p2", ""),
    # entity sampler: accents, fractions, currency, Greek, arrows,
    # uppercase variants, and BOTH double-escape forms (named
    # '&amp;lt;' and numeric '&#38;lt;' must stay literal '&lt;')
    ("lit", '</p><p>caf&eacute; na&iuml;ve r&eacute;sum&eacute; '
            '&frac12;&sup2; &euro;99 &pound;5 &alpha;&beta;&gamma; '
            '&AMP; x &rarr; y &laquo;q&raquo; &Uuml;ber &szlig; '
            'escaped &amp;lt; and &#38;lt; stay literal '
            '&notareal; prefix-decodes &unknownzz; kept '
            'legacy &amp bare &copy 1999 w1252 &#147;q&#148; '
            'bare-num &#169 done</p>'),
    ("lit", '</div><div class="side"><ul>'
            '<li><a href="/t/1">one tag</a></li>'
            '<li><a href="/t/2">two tag</a></li></ul></div>'
            '<footer>&copy; 2026 Corp &amp; it&#x2019;s fine &#8212; '
            'an &ndash; aside &hellip; literal &amp;#65; stays '
            '<a href="/p">Privacy</a> '
            '<a href="/b">Terms</a></footer></body></html>'),
)


def _with_page(docs: DataFrame, spread: bool = False) -> DataFrame:
    """documents -> (doc_id, source, page). Token array bound FIRST
    (functions/text.py performance contract) so the two paragraph
    slices never re-tokenize.

    spread=True: the documents table arrives as ONE scan partition at
    bench scale, so the page synthesis AND the downstream
    html-extraction expression chain would run on a single core with
    the rest idle (guide §2.5 input skew: "one huge unsplittable
    file ... repartition immediately after the read"); no-op at real
    scale where the scan already yields >= cores partitions. OPT-IN
    per call site because the added exchange + task fan-out costs
    ~0.3-0.5 s fixed at bench scale — a net win only where the
    per-row chain is expensive enough (measured: main-text/entity
    decode chains 2-4x faster; cheap consumers like the warc builders
    regressed, so they keep the single-partition scan)."""
    if spread:
        from hummingbird_spark.operators.dedup import (
            ensure_kernel_parallelism,
        )

        docs = ensure_kernel_parallelism(docs)
    ws = docs.select(
        "doc_id", "source", tokens(F.col("text")).alias("__ws"))
    k = ((F.size("__ws") + 1) / 2).cast("int")
    exprs = {
        "id": F.col("doc_id").cast("string"),
        "src": F.col("source"),
        "p1": F.array_join(F.slice(F.col("__ws"), F.lit(1), k), " "),
        "p2": F.array_join(
            F.slice(F.col("__ws"), k + 1,
                    F.greatest(F.size("__ws") - k, F.lit(0))), " "),
    }
    parts = [F.lit(txt) if kind == "lit" else exprs[kind]
             for kind, txt in _PAGE_SEGS]
    return ws.select("doc_id", "source", F.concat(*parts).alias("page"))


def _sq(s: str) -> str:
    return s.replace("'", "''")


def _page_sql_expr() -> str:
    """The identical page build as one DuckDB expression over the
    `tok` CTE columns (doc_id, source, toks, k)."""
    exprs = {
        "id": "CAST(doc_id AS VARCHAR)",
        "src": "source",
        "p1": "array_to_string(list_slice(toks, 1, k), ' ')",
        "p2": "array_to_string(list_slice(toks, k + 1, len(toks)), ' ')",
    }
    parts = ["'" + _sq(txt) + "'" if kind == "lit" else exprs[kind]
             for kind, txt in _PAGE_SEGS]
    return " || ".join(parts)


# tokens(text) in DuckDB — the idiom every text oracle pins
_TOKS_SQL = (r"CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] "
             r"ELSE string_split_regex(trim(text), '\s+') END")

_TOK_CTE = ("tok AS (SELECT doc_id, source, toks,"
            " (len(toks) + 1) // 2 AS k FROM (SELECT doc_id, source, "
            + _TOKS_SQL + " AS toks FROM documents))")


def _pages_cte() -> str:
    return ("pages AS (SELECT doc_id, source, " + _page_sql_expr()
            + " AS page FROM tok)")


# ---------------------------------------------------------------------------
# SQL replicas of the functions/html.py chain (RE2-safe subset shared
# with the Java regexes — same pattern strings where possible).
# ---------------------------------------------------------------------------

def _strip_noise_sql(e: str) -> str:
    out = ("regexp_replace(%s, '(?is)<script\\b[^>]*>.*?</script>',"
           " ' ', 'g')" % e)
    out = ("regexp_replace(%s, '(?is)<style\\b[^>]*>.*?</style>',"
           " ' ', 'g')" % out)
    return "regexp_replace(%s, '(?s)<!--.*?-->', ' ', 'g')" % out


def _ent_map_sql() -> str:
    """The WHATWG named-entity table as one MAP literal, generated
    from the same NAMED_ENTITIES dict the Spark expression uses —
    single source of truth (the functions/psl.py VALUES-CTE
    discipline)."""
    ks = ",".join("'" + _sq(k) + "'" for k in NAMED_ENTITIES)
    vs = ",".join("'" + _sq(v) + "'"
                  for v in NAMED_ENTITIES.values())
    return "MAP([" + ks + "],[" + vs + "])"


def _legacy_map_sql() -> str:
    """LEGACY_ENTITIES (the ~106 no-semicolon names, also the
    longest-prefix fallback table) as one MAP literal — same dict as
    functions/html.py's _legacy_map()."""
    ks = ",".join("'" + _sq(k) + "'" for k in LEGACY_ENTITIES)
    vs = ",".join("'" + _sq(v) + "'"
                  for v in LEGACY_ENTITIES.values())
    return "MAP([" + ks + "],[" + vs + "])"


def _w1252_map_sql() -> str:
    """W1252_REMAP keyed by the decimal code-point string — same
    dict as functions/html.py's _w1252_map()."""
    ks = ",".join("'%d'" % cp for cp in W1252_REMAP)
    vs = ",".join("'" + _sq(ch) + "'" for ch in W1252_REMAP.values())
    return "MAP([" + ks + "],[" + vs + "])"


def _named_sql(t: str, pn: str) -> str:
    """named_ref_decode() replica over one token: full ';'-form name
    first, then the longest LEGACY prefix (lengths 6..2 descending;
    NULL-propagating || skips missed probes), NULL when the token
    restores literally. `t` is the raw token (';' kept), `pn` the
    ';'-stripped name."""
    full = ("CASE WHEN %s LIKE '%%;' THEN map_extract("
            % t + _ent_map_sql() + ", %s)[1] END" % pn)
    probes = ", ".join(
        "map_extract(" + _legacy_map_sql()
        + ", substr(%s, 1, %d))[1] || substr(%s, %d)" % (t, L, t, L + 1)
        for L in range(_LEGACY_LMAX, _LEGACY_LMIN - 1, -1))
    return "coalesce(" + full + ", " + probes + ")"


def _ent_sql(e: str) -> str:
    """decode_entities() replica: ONE tokenizer pass over all four
    reference forms (same pattern string), split on chr(1), decode
    odd elements — numeric guarded against the same invalid scalar
    values with the windows-1252 remap, named via the shared maps
    (full name -> legacy longest-prefix -> literal restore). The
    single-element list_transform binds pn/cp once — DuckDB's
    lambda-closure idiom for a local name."""
    marked = ("regexp_replace(%s, '%s', chr(1)||'\\1'||chr(1), 'g')"
              % (e, ENTITY_TOKEN_RE))
    cp = ("CASE WHEN regexp_matches(pn, '^#[xX]')"
          " THEN try_cast('0x'||substr(pn,3,8) AS BIGINT)"
          " ELSE try_cast(substr(pn,2,8) AS BIGINT) END")
    ch = ("(list_transform([" + cp + "], cp -> coalesce("
          "map_extract(" + _w1252_map_sql()
          + ", CAST(cp AS VARCHAR))[1], "
          "CASE WHEN cp IS NULL"
          " OR cp <= 0 OR (cp >= 55296 AND cp <= 57343)"
          " OR cp > 1114111 THEN '' ELSE chr(CAST(cp AS INT)) END)))[1]")
    named = ("coalesce(" + _named_sql("sp[i]", "pn")
             + ", '&'||sp[i])")
    tok = ("(list_transform([regexp_replace(sp[i], ';$', '')],"
           " pn -> CASE WHEN sp[i][1] = '#' THEN " + ch
           + " ELSE " + named + " END))[1]")
    return ("(list_transform([string_split(" + marked + ", chr(1))],"
            " sp -> array_to_string(list_transform(range(1,"
            " len(sp)+1), i -> CASE WHEN i % 2 = 0 THEN " + tok
            + " ELSE sp[i] END), '')))[1]")


def _btext_sql(e: str) -> str:
    out = "regexp_replace(%s, '(?is)<[^>]*>', ' ', 'g')" % e
    out = _ent_sql(out)
    return "trim(regexp_replace(%s, '[ \\t\\r\\n]+', ' ', 'g'))" % out


_ANCHOR_SQL = (r"list_sum(list_transform(regexp_extract_all(b,"
               r" '(?is)<a\b[^>]*>(.*?)</a>', 1),"
               r" a -> length(" + _btext_sql("a") + ")))")


def _blocks_cte() -> str:
    """blk: per doc the ordered list<struct(btxt, ac)> of non-empty
    text blocks — the list-lambda mirror of block_structs()."""
    split = ("string_split_regex(" + _strip_noise_sql("page")
             + ", '" + _sq(BLOCK_SPLIT_RE) + "')")
    return (
        "blk AS (SELECT doc_id, source, list_filter(list_transform("
        + split + ", b -> struct_pack(btxt := " + _btext_sql("b")
        + ", ac := coalesce(" + _ANCHOR_SQL + ", 0))),"
        " s -> length(s.btxt) > 0) AS blocks FROM pages)"
    )


_KEPT = ("list_filter(blocks, s -> length(s.btxt) >= %d AND"
         " s.ac * 100 <= %d * length(s.btxt))"
         % (MIN_BLOCK_CHARS, _LD_PCT))
_LINK_BAD = ("list_filter(blocks, s -> s.ac * 100 > %d *"
             " length(s.btxt))" % _LD_PCT)


# ---------------------------------------------------------------------------
# Q1: html_main_text_stats — per-document extraction audit
# ---------------------------------------------------------------------------

def q_html_main_text_stats(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Synthetic page per doc -> block segmentation -> link-density
    main-content filter -> per-doc audit counters + extracted head."""
    pages = _with_page(load_table(spark, sf_dir, "documents"),
                       spread=True)
    # bind the block array ONCE (functions/html.py binding contract)
    bound = pages.select(
        "doc_id", block_structs(F.col("page")).alias("__b"))
    st = block_stats_from(F.col("__b"), MIN_BLOCK_CHARS,
                          MAX_LINK_DENSITY)
    mt = main_text_from(F.col("__b"), MIN_BLOCK_CHARS,
                        MAX_LINK_DENSITY)
    return (
        bound.select("doc_id", st.alias("st"), mt.alias("mt"))
        .select(
            "doc_id",
            F.col("st.n_blocks").alias("n_blocks"),
            F.col("st.kept_blocks").alias("kept_blocks"),
            F.col("st.kept_chars").alias("kept_chars"),
            F.col("st.dropped_link").alias("dropped_link"),
            F.col("st.dropped_short").alias("dropped_short"),
            F.length("mt").alias("main_chars"),
            F.substring("mt", 1, 40).alias("main_head"),
        )
        .orderBy("doc_id")
    )


ORACLE_HTML_MAIN_TEXT = (
    "WITH " + _TOK_CTE + ", " + _pages_cte() + ", " + _blocks_cte()
    + """
SELECT doc_id,
  len(blocks) AS n_blocks,
  len(kept) AS kept_blocks,
  CAST(coalesce(list_sum(list_transform(kept,
       s -> length(s.btxt))), 0) AS INT) AS kept_chars,
  len(linkbad) AS dropped_link,
  len(blocks) - len(kept) - len(linkbad) AS dropped_short,
  length(mt) AS main_chars,
  substring(mt, 1, 40) AS main_head
FROM (
  SELECT doc_id, blocks, """ + _KEPT + """ AS kept,
         """ + _LINK_BAD + """ AS linkbad,
         array_to_string(list_transform(""" + _KEPT + """,
             s -> s.btxt), chr(10)) AS mt
  FROM blk)
ORDER BY doc_id
""")


# ---------------------------------------------------------------------------
# Q1b: page_entity_stats — character-reference decode audit
# ---------------------------------------------------------------------------

def q_page_entity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-reference audit over the page fixture:
    how many references each page carries (named / numeric /
    unknown-name split) and how many characters the one-pass decode
    removes — the decode-coverage metric a real ingest tracks to
    catch entity-soup sources. Zero-shuffle per-page projection +
    one bounded rollup."""
    from hummingbird_spark.functions.html import (
        ENTITY_TOKEN_RE,
        decode_entities,
        named_ref_decode,
    )

    pages = _with_page(load_table(spark, sf_dir, "documents"),
                       spread=True)
    toks = F.regexp_extract_all(F.col("page"),
                                F.lit(ENTITY_TOKEN_RE), F.lit(1))
    per = pages.select(
        "source",
        F.size(toks).alias("__n"),
        F.size(F.filter(toks, lambda t: t.startswith("#")))
        .alias("__num"),
        # "unknown" = a named token the decoder restores literally
        # (no full ';'-form match AND no legacy prefix)
        F.size(F.filter(
            toks,
            lambda t: ~t.startswith("#")
            & named_ref_decode(
                t, F.regexp_replace(t, ";$", "")).isNull()))
        .alias("__unk"),
        (F.length("page")
         - F.length(decode_entities(F.col("page")))).alias("__shrink"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.sum("__n").alias("n_refs"),
            F.sum(F.col("__n") - F.col("__num")).alias("n_named"),
            F.sum("__num").alias("n_numeric"),
            F.sum("__unk").alias("n_unknown"),
            F.sum("__shrink").alias("decode_shrink"),
        )
        .orderBy("source")
    )


ORACLE_PAGE_ENTITY_STATS = (
    "WITH " + _TOK_CTE + ", " + _pages_cte() + """,
per AS (
  SELECT source,
    regexp_extract_all(page, '""" + ENTITY_TOKEN_RE + """', 1)
      AS toks,
    length(page) - length(""" + _ent_sql("page") + """) AS shrink
  FROM pages)
SELECT source,
  CAST(SUM(len(toks)) AS BIGINT) AS n_refs,
  CAST(SUM(len(toks) - len(list_filter(toks, t -> t[1] = '#')))
       AS BIGINT) AS n_named,
  CAST(SUM(len(list_filter(toks, t -> t[1] = '#'))) AS BIGINT)
       AS n_numeric,
  CAST(SUM(len(list_filter(toks, t -> t[1] <> '#' AND
       (list_transform([regexp_replace(t, ';$', '')], pn -> """
    + _named_sql("t", "pn") + """))[1] IS NULL)))
       AS BIGINT) AS n_unknown,
  CAST(SUM(shrink) AS BIGINT) AS decode_shrink
FROM per
GROUP BY source
ORDER BY source
""")


# ---------------------------------------------------------------------------
# Q2: warc_extract_stats — render records, pack files, parse, audit
# ---------------------------------------------------------------------------

_URI_PREFIX = "http://crawl.example/doc/"


def _warc_blobs(pages: DataFrame) -> DataFrame:
    """Fixture-only file assembly (deterministic: records sorted by
    doc_id inside each of the N_WARC_FILES blobs)."""
    rec = pages.select(
        (F.col("doc_id") % N_WARC_FILES).alias("file_id"),
        F.struct(
            "doc_id",
            render_warc_record(
                F.concat(F.lit(_URI_PREFIX),
                         F.col("doc_id").cast("string")),
                F.col("page"),
            ).alias("rec"),
        ).alias("s"),
    )
    return rec.groupBy("file_id").agg(
        F.concat_ws(
            "", F.transform(F.array_sort(F.collect_list("s")),
                            lambda s: s["rec"])
        ).alias("blob")
    )


def q_warc_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC blobs -> record parse -> per-file audit: record count,
    Content-Length validation, HTTP status, and a full body roundtrip
    against the independently rebuilt page."""
    pages = _with_page(load_table(spark, sf_dir, "documents"))
    parsed = parse_warc_records(_warc_blobs(pages), "blob",
                                keep=("file_id",))
    parsed = parsed.withColumn(
        "did",
        F.regexp_extract("target_uri", r"doc/([0-9]+)$", 1).cast("long"),
    )
    joined = parsed.join(
        F.broadcast(pages.select(F.col("doc_id").alias("did"), "page")),
        "did", "left")
    return (
        joined.groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum(F.col("length_ok").cast("int")).alias("n_len_ok"),
            F.sum((F.col("http_status") == "200").cast("int"))
            .alias("n_status_ok"),
            F.sum((F.col("body") == F.col("page")).cast("int"))
            .alias("n_roundtrip_ok"),
            F.sum(F.length("body")).alias("sum_body_chars"),
        )
        .orderBy("file_id")
    )


def _warc_sql_ctes() -> str:
    """records -> blobs -> re-split -> parsed rows, in SQL."""
    magic = "'WARC/1.0' || chr(13) || chr(10)"
    gap = "chr(13) || chr(10) || chr(13) || chr(10)"
    http = ("'HTTP/1.1 200 OK' || chr(13) || chr(10) ||"
            " 'Content-Type: text/html' || " + gap + " || page")
    rec = (
        magic + " || 'WARC-Type: response' || chr(13) || chr(10) ||"
        " 'WARC-Target-URI: " + _URI_PREFIX + "' ||"
        " CAST(doc_id AS VARCHAR) || chr(13) || chr(10) ||"
        " 'Content-Length: ' || CAST(length(" + http + ")"
        " AS VARCHAR) || " + gap + " || " + http + " || " + gap
    )
    return (
        "recs AS (SELECT doc_id % " + str(N_WARC_FILES)
        + " AS file_id, doc_id, " + rec + " AS rec FROM pages), "
        "blobs AS (SELECT file_id, string_agg(rec, '' ORDER BY doc_id)"
        " AS blob FROM recs GROUP BY file_id), "
        "wrows AS (SELECT file_id, unnest(list_filter(string_split("
        "blob, " + magic + "), r -> length(trim(r)) > 0)) AS rec"
        " FROM blobs), "
        # body via offset arithmetic past the second gap (limit-3
        # split semantics, mirroring sources/warc.py::_parse_record:
        # payload blank lines stay in the body; one trailing record
        # gap stripped)
        "hdrs AS (SELECT file_id, rec,"
        " string_split(rec, " + gap + ")[1] AS warc_hdr,"
        " string_split(rec, " + gap + ")[2] AS http_hdr"
        " FROM wrows), "
        "parsed AS (SELECT file_id, warc_hdr, http_hdr,"
        " CASE WHEN length(rec) >="
        " length(warc_hdr) + length(http_hdr) + 8"
        " THEN regexp_replace(substr(rec,"
        " length(warc_hdr) + length(http_hdr) + 9),"
        " '\\r\\n\\r\\n$', '') ELSE '' END AS body"
        " FROM hdrs), "
        "fields AS (SELECT file_id,"
        " CAST(regexp_extract(warc_hdr, 'Content-Length: ([0-9]+)', 1)"
        " AS BIGINT) AS content_length,"
        " regexp_extract(http_hdr, '^HTTP/1\\.[01] ([0-9]{3})', 1)"
        " AS http_status,"
        " CAST(regexp_extract(warc_hdr, 'doc/([0-9]+)', 1) AS BIGINT)"
        " AS did,"
        " length(http_hdr) + 4 + length(body) AS http_len, body"
        " FROM parsed)"
    )


ORACLE_WARC_EXTRACT = (
    "WITH " + _TOK_CTE + ", " + _pages_cte() + ", " + _warc_sql_ctes()
    + """
SELECT f.file_id,
  COUNT(*) AS n_records,
  CAST(SUM(CASE WHEN f.content_length = f.http_len THEN 1 ELSE 0 END)
       AS BIGINT) AS n_len_ok,
  CAST(SUM(CASE WHEN f.http_status = '200' THEN 1 ELSE 0 END)
       AS BIGINT) AS n_status_ok,
  CAST(SUM(CASE WHEN f.body = p.page THEN 1 ELSE 0 END) AS BIGINT)
      AS n_roundtrip_ok,
  CAST(SUM(length(f.body)) AS BIGINT) AS sum_body_chars
FROM fields f LEFT JOIN pages p ON f.did = p.doc_id
GROUP BY f.file_id
ORDER BY f.file_id
""")


# ---------------------------------------------------------------------------
# Q3: url_canonical_dups — canonicalization as a dedup key
# ---------------------------------------------------------------------------

def _with_url(docs: DataFrame) -> DataFrame:
    """Deterministic messy-URL fixture: case noise, www/default-port
    variants, duplicate slashes, trailing slashes, tracking params,
    unsorted params, fragments — with planted collisions (item id is
    doc_id % 40, and three of the four query-string classes
    canonicalize identically)."""
    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, F.lit("https")).otherwise(F.lit("HTTP"))
    host = (
        F.when(d % 3 == 0,
               F.concat(F.lit("WWW.News"), (d % 5).cast("string"),
                        F.lit(".COM")))
        .when(d % 3 == 1,
              F.concat(F.lit("news"), (d % 5).cast("string"),
                       F.lit(".com")))
        .otherwise(F.concat(F.lit("blog.news"), (d % 5).cast("string"),
                            F.lit(".co.uk")))
    )
    port = (
        F.when((d % 2 == 1) & (d % 3 == 0), F.lit(":80"))
        .when(d % 7 == 0, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path = F.concat(
        F.lit("/a//item-"), (d % 40).cast("string"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    query = (
        F.when(d % 4 == 0, F.lit("?utm_source=feed&b=2&a=1"))
        .when(d % 4 == 1, F.lit("?a=1&b=2&fbclid=XYZ"))
        .when(d % 4 == 2, F.lit("?b=2&a=1"))
        .otherwise(F.lit(""))
    )
    frag = F.when(d % 5 == 0, F.lit("#s1")).otherwise(F.lit(""))
    return docs.select(
        "doc_id", "source",
        F.concat(scheme, F.lit("://"), host, port, path, query, frag)
        .alias("url"),
    )


_URL_SQL = """
CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END || '://' ||
CASE WHEN doc_id % 3 = 0 THEN 'WWW.News' || CAST(doc_id % 5 AS VARCHAR) || '.COM'
     WHEN doc_id % 3 = 1 THEN 'news' || CAST(doc_id % 5 AS VARCHAR) || '.com'
     ELSE 'blog.news' || CAST(doc_id % 5 AS VARCHAR) || '.co.uk' END ||
CASE WHEN doc_id % 2 = 1 AND doc_id % 3 = 0 THEN ':80'
     WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END ||
'/a//item-' || CAST(doc_id % 40 AS VARCHAR) ||
CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&b=2&a=1'
     WHEN doc_id % 4 = 1 THEN '?a=1&b=2&fbclid=XYZ'
     WHEN doc_id % 4 = 2 THEN '?b=2&a=1' ELSE '' END ||
CASE WHEN doc_id % 5 = 0 THEN '#s1' ELSE '' END
"""

_TRACK_PRED = " OR ".join(
    "starts_with(kv, '%s')" % t for t in TRACKING_PARAMS)

def _canon_select(src: str, keys: str) -> str:
    """Canonicalization replica as a SELECT over `src`, which must
    expose `url` plus the pass-through `keys` columns."""
    return """
  SELECT """ + keys + """, host0 AS host,
    scheme || '://' || host0 ||
    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
              OR (scheme = 'https' AND port = '443') THEN ''
         ELSE ':' || port END ||
    CASE WHEN path2 = '' THEN '/' ELSE path2 END ||
    CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END AS canonical_url
  FROM (
    SELECT """ + keys + """, scheme,
      regexp_replace(regexp_replace(auth, ':[0-9]*$', ''),
                     '^www\\.', '') AS host0,
      coalesce(regexp_extract(auth, ':([0-9]+)$', 1), '') AS port,
      regexp_replace(regexp_replace(path1, '//+', '/', 'g'),
                     '(.)/$', '\\1') AS path2,
      -- array_to_string([]) is NULL in DuckDB 1.0 — coalesce to ''
      coalesce(array_to_string(list_sort(list_filter(
        string_split(q1, '&'),
        kv -> length(kv) > 0 AND NOT (""" + _TRACK_PRED + """))),
        '&'), '') AS q2
    FROM (
      SELECT """ + keys + """,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
            AS scheme,
        lower(regexp_extract(url,
            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
        coalesce(regexp_extract(url,
            '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '')
            AS path1,
        coalesce(regexp_extract(url, '\\?([^#]*)', 1), '') AS q1
      FROM """ + src + """))
"""


_CANON_SQL = "canon AS (" + _canon_select("urls", "doc_id, source") + ")"


def q_url_canonical_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Messy URLs -> canonical form -> duplicate-URL groups (the crawl
    dedup key upstream of content dedup)."""
    urls = _with_url(load_table(spark, sf_dir, "documents"))
    return (
        urls.select("doc_id",
                    canonical_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("doc_id").alias("min_doc"),
             F.max("doc_id").alias("max_doc"))
        .filter(F.col("n_docs") > 1)
        .orderBy("canonical_url")
    )


ORACLE_URL_CANONICAL_DUPS = (
    "WITH urls AS (SELECT doc_id, source, " + _URL_SQL
    + " AS url FROM documents), " + _CANON_SQL + """
SELECT canonical_url, COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM canon
GROUP BY canonical_url
HAVING COUNT(*) > 1
ORDER BY canonical_url
""")


# ---------------------------------------------------------------------------
# Q4: domain_curation_stats — eTLD+1 rollup + blocklist flag
# ---------------------------------------------------------------------------

BLOCKED_DOMAINS = ("news1.com", "news3.co.uk")

_SLS_SQL = "[" + ", ".join("'%s'" % s for s in SECOND_LEVEL_SUFFIXES) + "]"


def q_domain_curation_stats(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Registered-domain rollup of the crawl under the REAL
    public-suffix table (functions/psl.py — prevailing-rule PSL
    algorithm over the vendored snapshot, zero-shuffle literal-map
    probes): doc/host/URL counts per domain plus the blocklist
    verdict a curation run filters on."""
    from hummingbird_spark.functions.psl import registered_domain_psl

    urls = _with_url(load_table(spark, sf_dir, "documents"))
    host = url_host(F.col("url"))
    return (
        urls.select(
            "doc_id",
            host.alias("host"),
            registered_domain_psl(host).alias("domain"),
            canonical_url(F.col("url")).alias("curl"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
            F.countDistinct("curl").alias("n_urls"),
        )
        .withColumn(
            "blocked",
            F.col("domain").isin(*BLOCKED_DOMAINS).cast("int"))
        .orderBy("domain")
    )


def _psl_values_sql() -> str:
    """The compiled snapshot as a VALUES CTE — generated from the
    same compile_rules() the Spark expression uses, so the two sides
    cannot drift."""
    from hummingbird_spark.functions.psl import compile_rules

    rows = ", ".join("('%s', %d, %d, %d)" % r for r in compile_rules())
    return ("psl AS (SELECT * FROM (VALUES " + rows
            + ") p(suffix, wild, exc, eff))")


def _psl_max_probe() -> int:
    from hummingbird_spark.functions.psl import MAX_PROBE

    return MAX_PROBE


ORACLE_DOMAIN_STATS = (
    "WITH urls AS (SELECT doc_id, source, " + _URL_SQL
    + " AS url FROM documents), " + _CANON_SQL + ",\n"
    + _psl_values_sql() + """,
dom0 AS (
  SELECT doc_id, host, canonical_url,
         string_split(host, '.') AS labels,
         len(string_split(host, '.')) AS n
  FROM canon),
-- PSL prevailing rule: probe the host's last-k tails, exception
-- beats wildcard/normal via struct order, longest otherwise,
-- default eff = 1
cand AS (
  SELECT doc_id, labels, n,
         unnest(range(1, least(n, """ + str(_psl_max_probe())
    + """) + 1)) AS k
  FROM dom0),
hits AS (
  SELECT c.doc_id,
    MAX(CASE WHEN p.suffix IS NOT NULL
              AND (p.wild = 0 OR c.n >= p.eff)
         THEN struct_pack(exc := p.exc, eff := p.eff) END) AS best
  FROM cand c LEFT JOIN psl p
    ON p.suffix = array_to_string(
         list_slice(c.labels, c.n - c.k + 1, c.n), '.')
  GROUP BY c.doc_id),
dom AS (
  SELECT d.doc_id, d.host, d.canonical_url,
    CASE WHEN d.n <= eff2 THEN d.host
         ELSE array_to_string(
           list_slice(d.labels, d.n - eff2, d.n), '.') END AS domain
  FROM (
    SELECT d0.*, CASE WHEN h.best IS NULL OR (h.best).eff = 0
                      THEN 1 ELSE (h.best).eff END AS eff2
    FROM dom0 d0 LEFT JOIN hits h ON d0.doc_id = h.doc_id) d)
SELECT domain, COUNT(*) AS n_docs,
  COUNT(DISTINCT host) AS n_hosts,
  COUNT(DISTINCT canonical_url) AS n_urls,
  CASE WHEN domain IN ('news1.com', 'news3.co.uk')
       THEN 1 ELSE 0 END AS blocked
FROM dom
GROUP BY domain
ORDER BY domain
""")


# ---------------------------------------------------------------------------
# Q5: warc_html_pipeline — end-to-end crawl ingestion rollup
# ---------------------------------------------------------------------------

def q_warc_html_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole front end in one plan: WARC blobs -> record parse ->
    HTML body -> main-text extraction -> per-source corpus rollup
    (what lands in the curated store from each crawl source)."""
    pages = _with_page(load_table(spark, sf_dir, "documents"))
    parsed = parse_warc_records(_warc_blobs(pages), "blob",
                                keep=("file_id",))
    # the blob build collapses to N_WARC_FILES rows, so after the
    # record explode the whole block-extraction chain sits in a
    # near-1-partition stage (AQE coalesces the tiny shuffle) —
    # spread the exploded records across cores before the heavy
    # per-record expressions (guide §2.5); no-op when the crawl store
    # already yields >= cores partitions. Measured 3.1 -> 2.1 s.
    from hummingbird_spark.operators.dedup import (
        ensure_kernel_parallelism,
    )

    parsed = ensure_kernel_parallelism(parsed).withColumn(
        "did",
        F.regexp_extract("target_uri", r"doc/([0-9]+)$", 1).cast("long"),
    )
    src = F.broadcast(
        pages.select(F.col("doc_id").alias("did"), "source"))
    ext = (
        parsed.join(src, "did")
        .select("source", block_structs(F.col("body")).alias("__b"))
        .select(
            "source",
            block_stats_from(F.col("__b"), MIN_BLOCK_CHARS,
                             MAX_LINK_DENSITY).alias("st"),
            F.length(main_text_from(F.col("__b"), MIN_BLOCK_CHARS,
                                    MAX_LINK_DENSITY))
            .alias("main_chars"),
        )
    )
    return (
        ext.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("main_chars").alias("sum_main_chars"),
            F.sum(F.col("st.kept_blocks")).alias("sum_kept_blocks"),
            F.sum(F.col("st.dropped_link")).alias("sum_dropped_link"),
        )
        .orderBy("source")
    )


ORACLE_WARC_HTML_PIPELINE = (
    "WITH " + _TOK_CTE + ", " + _pages_cte() + ", " + _warc_sql_ctes()
    + ", ext AS (SELECT p.source, f.body, list_filter(list_transform("
    + "string_split_regex(" + _strip_noise_sql("f.body") + ", '"
    + _sq(BLOCK_SPLIT_RE) + "'), b -> struct_pack(btxt := "
    + _btext_sql("b") + ", ac := coalesce(" + _ANCHOR_SQL + ", 0))),"
    " s -> length(s.btxt) > 0) AS blocks"
    " FROM fields f JOIN pages p ON f.did = p.doc_id)"
    + """
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(length(array_to_string(list_transform(""" + _KEPT + """,
      s -> s.btxt), chr(10)))) AS BIGINT) AS sum_main_chars,
  CAST(SUM(len(""" + _KEPT + """)) AS BIGINT) AS sum_kept_blocks,
  CAST(SUM(len(""" + _LINK_BAD + """)) AS BIGINT) AS sum_dropped_link
FROM ext
GROUP BY source
ORDER BY source
""")


# ---------------------------------------------------------------------------
# Q6/Q7: anchor-link extraction + the REAL web link graph
# ---------------------------------------------------------------------------
# Link-page fixture: a deterministic 7-host web over the documents
# table. Each page links out seven ways — absolute (with tracking
# noise), root-relative, plain relative, an external tracker, a
# protocol-relative CDN asset, a DOT-SEGMENT relative
# ('.././p/<t4>', exercising RFC 3986 §5.2.4 folding: it resolves to
# /p/<t4> on the source host and becomes a real edge when the target
# lives there), and an UNQUOTED-attribute root-relative
# (<a href=/p/<t5>>, the legacy/minified form) — so resolution +
# canonicalization is exercised on every supported reference form,
# and only links whose canonical form
# equals a real page's canonical URL become graph edges
# (root/plain/dot-relative hrefs resolve on the SOURCE's host, so
# they dangle unless the target lives on the same host — exactly how
# mis-rooted hrefs behave on the real web).

_LINK_SEGS: tuple[tuple[str, str], ...] = (
    ("lit", '<html><body><h1>Page '), ("id", ""),
    ("lit", '</h1><p>page text '), ("id", ""),
    ("lit", '</p><a href="'), ("abs", ""),
    ("lit", '">n</a><a href="'), ("root", ""),
    ("lit", '">r</a><a href="'), ("rel", ""),
    ("lit", '">p</a><a href="'), ("ext", ""),
    ("lit", '">x</a><a href="'), ("proto", ""),
    ("lit", '">c</a><a href="'), ("dot", ""),
    # UNQUOTED attribute value (legacy/minified form): terminated by
    # the '>' — resolves root-relative on the source host
    ("lit", '">d</a><a href='), ("unq", ""),
    ("lit", '>u</a><a href="mailto:ops@corp.example">m</a>'
            '</body></html>'),
)


def _with_link_page(docs: DataFrame, spread: bool = False) -> DataFrame:
    """documents -> (doc_id, base, html) over the 7-host fixture web.
    Needs the corpus size for the modular targets — one cheap count
    (the SQL twin uses a scalar subquery). spread: see _with_page."""
    n = docs.count()
    d = F.col("doc_id")
    t1, t2, t3 = (d + 1) % n, (3 * d + 7) % n, (7 * d + 3) % n
    t4, t5 = (5 * d + 11) % n, (11 * d + 5) % n
    exprs = {
        "id": d.cast("string"),
        "abs": F.concat(F.lit("https://site"), (t1 % 7).cast("string"),
                        F.lit(".example/p/"), t1.cast("string"),
                        F.lit("?utm_source=feed")),
        "root": F.concat(F.lit("/p/"), t2.cast("string")),
        "rel": t3.cast("string"),
        "ext": F.concat(F.lit("https://ads.example/track?id="),
                        d.cast("string")),
        "proto": F.concat(F.lit("//cdn.site"), (d % 7).cast("string"),
                          F.lit(".example/a/"), d.cast("string")),
        "dot": F.concat(F.lit(".././p/"), t4.cast("string")),
        "unq": F.concat(F.lit("/p/"), t5.cast("string")),
    }
    base = F.concat(F.lit("https://site"), (d % 7).cast("string"),
                    F.lit(".example/p/"), d.cast("string"))
    parts = [F.lit(t) if k == "lit" else exprs[k]
             for k, t in _LINK_SEGS]
    if spread:  # opt-in: _with_page docstring (1-partition scan)
        from hummingbird_spark.operators.dedup import (
            ensure_kernel_parallelism,
        )

        docs = ensure_kernel_parallelism(docs)
    return docs.select("doc_id", base.alias("base"),
                       F.concat(*parts).alias("html"))


def _link_page_sql() -> str:
    """The identical fixture in SQL: lpg(doc_id, base, html)."""
    exprs = {
        "id": "CAST(doc_id AS VARCHAR)",
        "abs": ("'https://site' || CAST(t1 % 7 AS VARCHAR) ||"
                " '.example/p/' || CAST(t1 AS VARCHAR) ||"
                " '?utm_source=feed'"),
        "root": "'/p/' || CAST(t2 AS VARCHAR)",
        "rel": "CAST(t3 AS VARCHAR)",
        "ext": "'https://ads.example/track?id=' ||"
               " CAST(doc_id AS VARCHAR)",
        "proto": ("'//cdn.site' || CAST(doc_id % 7 AS VARCHAR) ||"
                  " '.example/a/' || CAST(doc_id AS VARCHAR)"),
        "dot": "'.././p/' || CAST(t4 AS VARCHAR)",
        "unq": "'/p/' || CAST(t5 AS VARCHAR)",
    }
    html = " || ".join("'" + _sq(t) + "'" if k == "lit" else exprs[k]
                       for k, t in _LINK_SEGS)
    return (
        "npg AS (SELECT COUNT(*) AS n FROM documents), "
        "lt AS (SELECT doc_id, (doc_id + 1) % n AS t1,"
        " (3 * doc_id + 7) % n AS t2, (7 * doc_id + 3) % n AS t3,"
        " (5 * doc_id + 11) % n AS t4, (11 * doc_id + 5) % n AS t5,"
        " (2 * doc_id + 5) % n AS t6"
        " FROM documents, npg), "
        "lpg AS (SELECT doc_id,"
        " 'https://site' || CAST(doc_id % 7 AS VARCHAR) ||"
        " '.example/p/' || CAST(doc_id AS VARCHAR) AS base, "
        + html + " AS html FROM lt)"
    )


# v2 page body for the VERSIONED fixture: every third page recrawls
# with all source-host-relative links REMOVED (root/rel/dot/unq —
# each a retraction candidate) and its absolute link RETARGETED to
# t6 (an addition). Shared segs tuple = the Spark/SQL no-drift rule.
_V2_SEGS: tuple[tuple[str, str], ...] = (
    ("lit", '<html><body><h1>Page '), ("id", ""),
    ("lit", ' v2</h1><p>updated body text</p><a href="'),
    ("abs2", ""),
    ("lit", '">n</a><a href="'), ("ext", ""),
    ("lit", '">x</a></body></html>'),
)


def _with_link_page_v2(docs: DataFrame) -> DataFrame:
    """The recrawled (v2) versions: (doc_id, base, html) for
    doc_id % 3 == 0 only."""
    n = docs.count()
    d = F.col("doc_id")
    t6 = (2 * d + 5) % n
    exprs = {
        "id": d.cast("string"),
        "abs2": F.concat(F.lit("https://site"), (t6 % 7).cast("string"),
                         F.lit(".example/p/"), t6.cast("string"),
                         F.lit("?utm_source=feed")),
        "ext": F.concat(F.lit("https://ads.example/track?id="),
                        d.cast("string")),
    }
    base = F.concat(F.lit("https://site"), (d % 7).cast("string"),
                    F.lit(".example/p/"), d.cast("string"))
    parts = [F.lit(t) if k == "lit" else exprs[k]
             for k, t in _V2_SEGS]
    return docs.filter(d % 3 == 0).select(
        "doc_id", base.alias("base"), F.concat(*parts).alias("html"))


def _link_page_v2_sql() -> str:
    """Latest-version page set in SQL: v2 html where doc_id % 3 = 0,
    v1 html otherwise — the from-scratch twin of the versioned
    store's max-seq-wins read."""
    v1 = _link_page_sql()
    exprs = {
        "id": "CAST(doc_id AS VARCHAR)",
        "abs2": ("'https://site' || CAST(t6 % 7 AS VARCHAR) ||"
                 " '.example/p/' || CAST(t6 AS VARCHAR) ||"
                 " '?utm_source=feed'"),
        "ext": "'https://ads.example/track?id=' ||"
               " CAST(doc_id AS VARCHAR)",
    }
    v2html = " || ".join("'" + _sq(t) + "'" if k == "lit" else exprs[k]
                         for k, t in _V2_SEGS)
    # reuse npg/lt from the v1 builder, then override html per-page;
    # the chain downstream reads FROM lpg, so emit the CASE as lpg
    # (the v1 lpg becomes lpg1)
    v1 = v1.replace("lpg AS (SELECT doc_id,", "lpg1 AS (SELECT doc_id,")
    return (
        v1 + ", lpgv2 AS (SELECT lt.doc_id, " + v2html
        + " AS html FROM lt WHERE lt.doc_id % 3 = 0), "
        "lpg AS (SELECT p.doc_id, p.base,"
        " coalesce(v.html, p.html) AS html"
        " FROM lpg1 p LEFT JOIN lpgv2 v ON p.doc_id = v.doc_id)"
    )


# double-quoted, single-quoted, or UNQUOTED hrefs, one alternation
# capture (order preserved), quotes stripped after when present —
# functions/html.py mirror
_HREF_SQL = (
    r"""list_transform(regexp_extract_all(html, """
    r"""'(?is)<a\b[^>]*href=("[^"]*"|''[^'']*''|[^\s"''>][^\s>]*)',"""
    r""" 1), q -> CASE WHEN q[1] = '"' OR q[1] = '''' """
    r"""THEN substr(q, 2, length(q) - 2) ELSE q END)""")

# one path segment that is NOT '.' or '..' — mirrors functions/html.py
_DOT_SEG_SQL = r"(?:[^/.][^/]*|\.[^/.][^/]*|\.\.[^/]+)"


def _dot_fold_sql(e: str, iters: int = 8) -> str:
    """remove_dot_segments() replica: the same bounded iterated
    regexp chain, same operation order, same iteration cap."""
    out = e
    for _ in range(iters):
        out = r"regexp_replace(%s, '^/\.\./', '/')" % out
        out = r"regexp_replace(%s, '^/\.\.$', '/')" % out
        out = r"regexp_replace(%s, '/\./', '/', 'g')" % out
        out = r"regexp_replace(%s, '/\.$', '/')" % out
        out = (r"regexp_replace(%s, '/%s/\.\./', '/', 'g')"
               % (out, _DOT_SEG_SQL))
        out = (r"regexp_replace(%s, '/%s/\.\.$', '/')"
               % (out, _DOT_SEG_SQL))
    return out


# dot-segment fold over one resolved URL `r` (closure-bound below)
_FOLD_URL_SQL = (
    "coalesce(regexp_extract(r,"
    " '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1), '') || "
    + _dot_fold_sql("coalesce(regexp_extract(r,"
                    " '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)',"
                    " 1), '')")
    + " || coalesce(regexp_extract(r, '^[^?#]*([?#].*)', 1), '')")

# resolution CASE over the lpg row's base-derived columns, then the
# conditional RFC 3986 dot-segment fold (single-element
# list_transform = DuckDB's closure idiom for binding `r` once)
_RESOLVE_SQL = """
rsv AS (
  SELECT doc_id, base,
    list_transform(list_filter(hrefs, h ->
      regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*://') OR
      NOT regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*:')),
      h -> (list_transform([CASE
      WHEN regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*://') THEN h
      WHEN h LIKE '//%' THEN scheme || ':' || h
      WHEN h LIKE '/%' THEN origin || h
      ELSE origin || bdir || '/' || h END],
      r -> CASE WHEN regexp_matches(r, '/\\.\\.?(/|$)')
                THEN """ + _FOLD_URL_SQL + """
                ELSE r END))[1]) AS links,
    hrefs
  FROM (
    SELECT doc_id, base, """ + _HREF_SQL + """ AS hrefs,
      lower(regexp_extract(base,
          '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      lower(regexp_extract(base,
          '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://' ||
      lower(regexp_extract(base,
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS origin,
      regexp_replace(coalesce(regexp_extract(base,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), ''),
          '/[^/]*$', '') AS bdir
    FROM lpg))
"""

# host -> registered domain, PSL-lite (same logic as the domain query)
_REGDOM_CASE = """
    CASE WHEN len(labels) >= 3 AND
              list_contains(""" + _SLS_SQL + """, labels[-2])
         THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
         WHEN len(labels) >= 2
         THEN labels[-2] || '.' || labels[-1]
         ELSE host END
"""


def q_page_out_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page out-link audit: reference-form and internal/external
    split after resolution — zero-shuffle array projection."""
    from hummingbird_spark.functions.html import (
        extract_hrefs,
        extract_links,
    )

    pages = _with_link_page(load_table(spark, sf_dir, "documents"),
                            spread=True)

    def _dom(u):
        return registered_domain(url_host(u))

    # bind the link array, then the per-link domains, ONCE each (the
    # block_structs discipline): the naive form evaluated the
    # extraction three times and the domain chain twice per link;
    # n_external is n_links - n_internal (domains are total).
    bound = pages.select(
        "doc_id",
        registered_domain(url_host(F.col("base"))).alias("__bd"),
        extract_links(F.col("html"), F.col("base")).alias("__ls"),
        F.size(F.filter(extract_hrefs(F.col("html")),
                        lambda h: h.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"))
               ).alias("n_abs"),
    ).select(
        "doc_id", "__bd", "n_abs",
        F.size("__ls").alias("n_links"),
        F.transform(F.col("__ls"), _dom).alias("__doms"),
    )
    n_int = F.size(F.filter(
        F.col("__doms"), lambda d: d == F.col("__bd")))
    return bound.select(
        "doc_id",
        "n_links",
        "n_abs",
        n_int.alias("n_internal"),
        (F.col("n_links") - n_int).alias("n_external"),
    ).orderBy("doc_id")


ORACLE_PAGE_OUT_LINKS = (
    "WITH " + _link_page_sql() + ", " + _RESOLVE_SQL + """,
lrow AS (
  SELECT doc_id, bdom, unnest(links) AS url
  FROM (SELECT doc_id, links, """ + _REGDOM_CASE + """ AS bdom
        FROM (SELECT doc_id, links, string_split(
                regexp_replace(regexp_replace(lower(regexp_extract(
                  base, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                  ':[0-9]*$', ''), '^www\\.', ''), '.') AS labels,
                regexp_replace(regexp_replace(lower(regexp_extract(
                  base, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                  ':[0-9]*$', ''), '^www\\.', '') AS host
              FROM rsv))),
ldom AS (
  SELECT doc_id, bdom, """ + _REGDOM_CASE + """ AS ldm
  FROM (SELECT doc_id, bdom, string_split(host, '.') AS labels, host
        FROM (SELECT doc_id, bdom,
                regexp_replace(regexp_replace(lower(regexp_extract(
                  url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                  ':[0-9]*$', ''), '^www\\.', '') AS host
              FROM lrow)))
SELECT r.doc_id,
  len(r.links) AS n_links,
  len(list_filter(r.hrefs, h ->
      regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*://'))) AS n_abs,
  CAST(SUM(CASE WHEN d.ldm = d.bdom THEN 1 ELSE 0 END) AS INT)
      AS n_internal,
  CAST(SUM(CASE WHEN d.ldm = d.bdom THEN 0 ELSE 1 END) AS INT)
      AS n_external
FROM rsv r JOIN ldom d ON r.doc_id = d.doc_id
GROUP BY r.doc_id, r.links, r.hrefs
ORDER BY r.doc_id
""")


def q_web_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real thing the rare-trigram graph proxies: PageRank over
    edges extracted from anchor tags — resolve + canonicalize every
    href, join against the pages' own canonical URLs (dangling links
    drop), symmetrize, then the exact scaled-integer trajectory."""
    from hummingbird_spark.operators.graph import (
        pagerank_scaled,
        web_link_edges,
    )

    pages = _with_link_page(load_table(spark, sf_dir, "documents"))
    edges = web_link_edges(pages)
    pr = pagerank_scaled(edges, rounds=_PR_ROUNDS,
                         damping_pct=_PR_DAMP, scale=_PR_SCALE)
    return pr.select(
        F.col("node").alias("doc_id"),
        F.col("deg").alias("degree"),
        "rank_scaled",
    ).orderBy("doc_id")


def _web_pagerank_oracle(lpg_cte: str | None = None) -> str:
    base = _PR_SCALE * (100 - _PR_DAMP) // 100
    ctes = [
        lpg_cte or _link_page_sql(), _RESOLVE_SQL.strip().rstrip(),
        ("lurl AS (SELECT doc_id, unnest(links) AS url FROM rsv)"),
        "lcanon AS (" + _canon_select("lurl", "doc_id") + ")",
        ("turl AS (SELECT doc_id AS tgt, base AS url FROM lpg)"),
        "tcanon AS (" + _canon_select("turl", "tgt") + ")",
        ("e AS (SELECT DISTINCT least(l.doc_id, t.tgt) AS a,"
         " greatest(l.doc_id, t.tgt) AS b"
         " FROM lcanon l JOIN tcanon t"
         " ON l.canonical_url = t.canonical_url"
         " WHERE l.doc_id <> t.tgt)"),
        ("sym AS (SELECT a AS src, b AS dst FROM e"
         " UNION ALL SELECT b AS src, a AS dst FROM e)"),
        ("deg AS (SELECT src AS node, COUNT(*) AS deg FROM sym"
         " GROUP BY src)"),
        (f"r0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS r"
         f" FROM deg)"),
    ]
    for t in range(1, _PR_ROUNDS + 1):
        ctes.append(
            f"r{t} AS (\n"
            f"  SELECT s.dst AS node,\n"
            f"    CAST({base} + SUM(({_PR_DAMP} * r.r) // (100 * d.deg))"
            f" AS BIGINT) AS r\n"
            f"  FROM sym s JOIN r{t-1} r ON s.src = r.node\n"
            f"  JOIN deg d ON s.src = d.node\n"
            f"  GROUP BY s.dst)")
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT r.node AS doc_id, d.deg AS degree, r.r AS rank_scaled
FROM r{_PR_ROUNDS} r JOIN deg d ON r.node = d.node
ORDER BY doc_id
""")


ORACLE_WEB_LINK_PAGERANK = _web_pagerank_oracle()


def q_versioned_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the UPDATE-AWARE versioned web graph, end to
    end through the store (streaming/web_graph_versioned.py): batch 0
    crawls every page (the v1 link fixture), batch 1 RECRAWLS every
    third page with its host-relative links removed and its absolute
    link retargeted (directed -1/+1 ops under max-seq-wins), a
    logical-GC tick compacts below the watermark, and the maintained
    edge set feeds pagerank_scaled unchanged. The oracle is the
    from-scratch build over the LATEST version of every page — only
    correct retraction semantics (either-endpoint support, dangling
    re-resolution, GC-preserved validity) make the two match.

    Scale shape: each batch is equi-joins bounded by the batch's
    links (never a graph rescan), the GC is one winner-per-direction
    shuffle, and PageRank is the exact-integer trajectory
    (operators/graph.py). The temp store is removed after an eager
    localCheckpoint cuts lineage — no driver-side collect."""
    import shutil
    import tempfile

    from hummingbird_spark.operators.graph import pagerank_scaled
    from hummingbird_spark.streaming.web_graph_versioned import (
        gc_web_graph_versioned,
        read_web_edges_versioned,
        web_graph_versioned_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    v1 = _with_link_page(docs)
    v2 = _with_link_page_v2(docs)
    tmp = tempfile.mkdtemp(prefix="hb_versioned_pr_")
    try:
        paths = tuple(os.path.join(tmp, x)
                      for x in ("links", "vers", "pages", "edges"))
        web_graph_versioned_batch(spark, v1, *paths, batch_id=0)
        web_graph_versioned_batch(spark, v2, *paths, batch_id=1)
        gc_web_graph_versioned(spark, *paths, watermark=1)
        edges = read_web_edges_versioned(spark, paths[3])
        pr = pagerank_scaled(edges, rounds=_PR_ROUNDS,
                             damping_pct=_PR_DAMP, scale=_PR_SCALE)
        out = pr.select(
            F.col("node").alias("doc_id"),
            F.col("deg").alias("degree"),
            "rank_scaled",
        ).orderBy("doc_id").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE_VERSIONED_PAGERANK = _web_pagerank_oracle(_link_page_v2_sql())


# ---------------------------------------------------------------------------
# Q8: robots.txt politeness verdicts (RFC 9309 subset)
# ---------------------------------------------------------------------------
# Per-host robots fixture over the 7-host link web: even hosts carry a
# trainingbot-specific group (prefix Disallow /p/1 overridden by the
# longer Allow /p/12 — the longest-match/Allow-ties semantics under
# test) plus a '*' group that must NOT apply; odd hosts have only a
# '*' group, exercising the fallback; host 6's trainingbot group is
# DELAY-ONLY (Crawl-delay, zero path rules) — its delay must survive
# to the verdicts. Blank lines, comments, and the group state machine
# (UA lines open groups) all replay in SQL.

ROBOTS_AGENT = "trainingbot"


def _with_robots(docs: DataFrame) -> DataFrame:
    hosts = docs.select((F.col("doc_id") % 7).alias("h")).distinct()
    h = F.col("h").cast("string")
    even = F.concat(
        F.lit("# robots for site"), h, F.lit("\n"),
        F.lit("User-agent: trainingbot\n"),
        F.lit("Disallow: /p/1\n"),
        F.lit("Allow: /p/12\n"),
        F.lit("Disallow: /p/*0$\n"),
        F.lit("Allow: /p/*00$\n"),
        F.lit("Crawl-delay: "), h, F.lit("\n\n"),
        F.lit("User-agent: *\n"),
        F.lit("Disallow: /p/"), h)
    odd = F.concat(
        F.lit("# robots for site"), h, F.lit("\n"),
        F.lit("User-agent: *\n"),
        F.lit("Disallow: /p/"), h, F.lit("\n"),
        F.lit("Disallow: /x/"))
    # host 6: the chosen group carries ONLY a Crawl-delay — no path
    # rules. Its delay must still reach the verdicts (the r8 ADVICE
    # case robots_rules used to drop on the delay->rules left join).
    delay_only = F.concat(
        F.lit("# robots for site"), h, F.lit("\n"),
        F.lit("User-agent: trainingbot\n"),
        F.lit("Crawl-delay: "), h, F.lit("\n\n"),
        F.lit("User-agent: *\n"),
        F.lit("Disallow: /p/"), h)
    # Sitemap: directives are host-wide (group-independent) — every
    # host declares its main sitemap; even hosts add a news sitemap
    # with a trailing comment and a duplicate line (dupes collapse)
    sitemap_lines = F.concat(
        F.lit("Sitemap: https://site"), h,
        F.lit(".example/sitemap.xml\n"),
        F.when(
            F.col("h") % 2 == 0,
            F.concat(F.lit("sitemap: https://site"), h,
                     F.lit(".example/news.xml  # daily\n"
                           "Sitemap: https://site"), h,
                     F.lit(".example/sitemap.xml\n")),
        ).otherwise(F.lit("")))
    return hosts.select(
        F.concat(F.lit("site"), h, F.lit(".example")).alias("host"),
        F.concat(
            sitemap_lines,
            F.when(F.col("h") == 6, delay_only)
            .when(F.col("h") % 2 == 0, even).otherwise(odd))
        .alias("robots_txt"))


def q_robots_crawl_verdicts(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """robots.txt parse -> agent group selection -> longest-prefix
    verdict per page URL of the 7-host fixture web."""
    from hummingbird_spark.operators.robots import (
        robots_rules,
        robots_verdicts,
    )

    docs = load_table(spark, sf_dir, "documents")
    urls = _with_link_page(docs).select(
        "doc_id", F.col("base").alias("url"))
    rules = robots_rules(_with_robots(docs), agent=ROBOTS_AGENT)
    v = robots_verdicts(urls.select("url"), rules)
    return (
        urls.join(v, "url")
        .select("doc_id", "host", "allowed", "matched_rule",
                "crawl_delay")
        .orderBy("doc_id")
    )


_ROBOTS_TXT_SQL = """
'Sitemap: https://site' || CAST(h AS VARCHAR) ||
'.example/sitemap.xml' || chr(10) ||
CASE WHEN h % 2 = 0 THEN
  'sitemap: https://site' || CAST(h AS VARCHAR) ||
  '.example/news.xml  # daily' || chr(10) ||
  'Sitemap: https://site' || CAST(h AS VARCHAR) ||
  '.example/sitemap.xml' || chr(10)
ELSE '' END ||
CASE WHEN h = 6 THEN
  '# robots for site' || CAST(h AS VARCHAR) || chr(10) ||
  'User-agent: trainingbot' || chr(10) ||
  'Crawl-delay: ' || CAST(h AS VARCHAR) || chr(10) || chr(10) ||
  'User-agent: *' || chr(10) ||
  'Disallow: /p/' || CAST(h AS VARCHAR)
WHEN h % 2 = 0 THEN
  '# robots for site' || CAST(h AS VARCHAR) || chr(10) ||
  'User-agent: trainingbot' || chr(10) ||
  'Disallow: /p/1' || chr(10) ||
  'Allow: /p/12' || chr(10) ||
  'Disallow: /p/*0$' || chr(10) ||
  'Allow: /p/*00$' || chr(10) ||
  'Crawl-delay: ' || CAST(h AS VARCHAR) || chr(10) || chr(10) ||
  'User-agent: *' || chr(10) ||
  'Disallow: /p/' || CAST(h AS VARCHAR)
ELSE
  '# robots for site' || CAST(h AS VARCHAR) || chr(10) ||
  'User-agent: *' || chr(10) ||
  'Disallow: /p/' || CAST(h AS VARCHAR) || chr(10) ||
  'Disallow: /x/'
END
"""

ORACLE_ROBOTS_VERDICTS = (
    "WITH " + _link_page_sql() + """,
hosts AS (SELECT DISTINCT doc_id % 7 AS h FROM documents),
rb AS (SELECT 'site' || CAST(h AS VARCHAR) || '.example' AS host,
       """ + _ROBOTS_TXT_SQL + """ AS txt FROM hosts),
lr AS (
  SELECT host, i AS pos,
    trim(regexp_replace(string_split(txt, chr(10))[i], '#.*$', ''))
        AS ln
  FROM rb, range(1, 33) r(i)
  WHERE i <= len(string_split(txt, chr(10)))),
pl AS (
  SELECT host, pos,
    lower(coalesce(regexp_extract(ln, '^([A-Za-z-]+)\\s*:', 1), ''))
        AS kind,
    trim(coalesce(regexp_extract(ln, '^[A-Za-z-]+\\s*:\\s*(.*)$', 1),
                  '')) AS val
  FROM lr WHERE length(ln) > 0),
fl AS (
  SELECT *, CASE WHEN kind = 'user-agent' AND NOT coalesce(
      lag(kind = 'user-agent') OVER
        (PARTITION BY host ORDER BY pos), FALSE)
    THEN 1 ELSE 0 END AS ng
  FROM pl
  WHERE kind IN ('user-agent', 'allow', 'disallow', 'crawl-delay')),
gr AS (
  SELECT *, SUM(ng) OVER (PARTITION BY host ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS gid
  FROM fl),
ag AS (
  SELECT host, gid, list(DISTINCT lower(val)) AS agents
  FROM gr WHERE kind = 'user-agent' GROUP BY host, gid),
ch AS (
  SELECT host, coalesce(
    MIN(CASE WHEN list_contains(agents, '""" + ROBOTS_AGENT + """')
             THEN gid END),
    MIN(CASE WHEN list_contains(agents, '*') THEN gid END)) AS gid
  FROM ag GROUP BY host),
ru AS (
  -- operators/robots.py::_rule_pattern replica: trailing-$ anchor,
  -- * -> .*, every other metachar escaped; NULL for wildcard-free
  SELECT host, kind, path,
    CASE WHEN path LIKE '%*%' OR path LIKE '%$' THEN
      '^' || replace(regexp_replace(
          CASE WHEN path LIKE '%$'
               THEN substr(path, 1, length(path) - 1)
               ELSE path END,
          '([\\.\\+\\?\\(\\)\\[\\]\\{\\}\\^\\$\\|])', '\\\1', 'g'), '*', '.*')
      || CASE WHEN path LIKE '%$' THEN '$' ELSE '' END
    END AS pattern
  FROM (
    SELECT g.host, g.kind, g.val AS path
    FROM gr g JOIN ch ON g.host = ch.host AND g.gid = ch.gid
    WHERE g.kind IN ('allow', 'disallow') AND length(g.val) > 0)),
dl AS (
  SELECT g.host, MIN(CAST(g.val AS INT)) AS crawl_delay
  FROM gr g JOIN ch ON g.host = ch.host AND g.gid = ch.gid
  WHERE g.kind = 'crawl-delay' GROUP BY g.host),
uu AS (
  SELECT doc_id,
    'site' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host,
    '/p/' || CAST(doc_id AS VARCHAR) AS path
  FROM lpg),
mt AS (
  SELECT u.doc_id, max(struct_pack(
      l := length(r.path),
      a := CASE WHEN r.kind = 'allow' THEN 1 ELSE 0 END,
      p := r.path)) AS best
  FROM uu u JOIN ru r
    ON u.host = r.host
   AND CASE WHEN r.pattern IS NOT NULL
            THEN regexp_matches(u.path, r.pattern)
            ELSE starts_with(u.path, r.path) END
  GROUP BY u.doc_id)
SELECT u.doc_id, u.host,
  CASE WHEN m.best IS NULL THEN 1 ELSE (m.best).a END AS allowed,
  coalesce((m.best).p, '') AS matched_rule,
  coalesce(d.crawl_delay, 0) AS crawl_delay
FROM uu u
LEFT JOIN mt m ON u.doc_id = m.doc_id
LEFT JOIN dl d ON u.host = d.host
ORDER BY u.doc_id
""")


# ---------------------------------------------------------------------------
# Q8b: sitemap_discovery — robots Sitemap: directives, host-wide
# ---------------------------------------------------------------------------

def q_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt `Sitemap:` directives -> per-host discovery audit:
    distinct sitemaps each host declares (directives are host-wide
    per RFC 9309, duplicates collapse, comments strip) and the first
    one a scheduler would fetch."""
    from hummingbird_spark.operators.robots import robots_sitemaps

    docs = load_table(spark, sf_dir, "documents")
    sm = robots_sitemaps(_with_robots(docs))
    return (
        sm.groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_sitemaps"),
             F.min("sitemap_url").alias("first_sitemap"))
        .orderBy("host")
    )


ORACLE_SITEMAP_DISCOVERY = (
    """WITH hosts AS (SELECT DISTINCT doc_id % 7 AS h FROM documents),
rb AS (SELECT 'site' || CAST(h AS VARCHAR) || '.example' AS host,
       """ + _ROBOTS_TXT_SQL + """ AS txt FROM hosts),
ln0 AS (
  SELECT host, trim(regexp_replace(unnest(string_split(txt, chr(10))),
                                   '#.*$', '')) AS ln
  FROM rb),
sm AS (
  SELECT DISTINCT host, trim(substr(ln, 9)) AS sitemap_url
  FROM ln0
  WHERE lower(ln) LIKE 'sitemap:%' AND length(trim(substr(ln, 9))) > 0)
SELECT host, COUNT(*) AS n_sitemaps,
       MIN(sitemap_url) AS first_sitemap
FROM sm GROUP BY host ORDER BY host
""")


# ---------------------------------------------------------------------------
# Q9: page_metadata — head-element extraction
# ---------------------------------------------------------------------------
# Metadata fixture: <html lang> carries the document's REAL lang
# column, the self-declared canonical link points at the d%40 page
# (what a dedup consolidation would key on), and d%4==0 pages carry a
# second <h1> — each head element the extractor must pick out.

_META_SEGS: tuple[tuple[str, str], ...] = (
    ("lit", '<html lang="'), ("lang", ""),
    ("lit", '"><head><title>'), ("src", ""),
    ("lit", " story "), ("id", ""),
    ("lit", '</title><meta name="description" content="summary of doc '),
    ("id", ""),
    ("lit", '"><link rel="canonical" href="https://site'), ("h7", ""),
    ("lit", ".example/p/"), ("id40", ""),
    ("lit", '"></head><body><h1>lead</h1>'), ("h1x", ""),
    ("lit", "<p>"), ("p1", ""),
    ("lit", "</p></body></html>"),
)


def _with_meta_page(docs: DataFrame) -> DataFrame:
    ws = docs.select("doc_id", "source", "lang",
                     tokens(F.col("text")).alias("__ws"))
    d = F.col("doc_id")
    exprs = {
        "lang": F.col("lang"),
        "src": F.col("source"),
        "id": d.cast("string"),
        "h7": (d % 7).cast("string"),
        "id40": (d % 40).cast("string"),
        "h1x": F.when(d % 4 == 0, F.lit("<h1>extra</h1>"))
        .otherwise(F.lit("")),
        "p1": F.array_join(F.slice(F.col("__ws"), 1, 10), " "),
    }
    parts = [F.lit(t) if k == "lit" else exprs[k]
             for k, t in _META_SEGS]
    return ws.select("doc_id", F.concat(*parts).alias("html"))


def q_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-element extraction: title, lang attribute, description
    length, self-declared canonical, h1 count — one zero-shuffle
    projection."""
    from hummingbird_spark.functions.html import (
        canonical_link_href,
        h1_count,
        html_lang,
        meta_description,
        page_title,
    )

    pages = _with_meta_page(load_table(spark, sf_dir, "documents"))
    return pages.select(
        "doc_id",
        page_title(F.col("html")).alias("title"),
        html_lang(F.col("html")).alias("lang_attr"),
        F.length(meta_description(F.col("html"))).alias("desc_chars"),
        canonical_link_href(F.col("html")).alias("canonical_href"),
        h1_count(F.col("html")).alias("n_h1"),
    ).orderBy("doc_id")


def _meta_page_sql() -> str:
    exprs = {
        "lang": "lang",
        "src": "source",
        "id": "CAST(doc_id AS VARCHAR)",
        "h7": "CAST(doc_id % 7 AS VARCHAR)",
        "id40": "CAST(doc_id % 40 AS VARCHAR)",
        "h1x": ("CASE WHEN doc_id % 4 = 0 THEN '<h1>extra</h1>'"
                " ELSE '' END"),
        "p1": "array_to_string(list_slice(toks, 1, 10), ' ')",
    }
    html = " || ".join("'" + _sq(t) + "'" if k == "lit" else exprs[k]
                       for k, t in _META_SEGS)
    return ("mpg AS (SELECT doc_id, " + html + " AS html FROM "
            "(SELECT doc_id, source, lang, " + _TOKS_SQL
            + " AS toks FROM documents))")


ORACLE_PAGE_METADATA = (
    "WITH " + _meta_page_sql() + """
SELECT doc_id,
  """ + _btext_sql(
      "coalesce(regexp_extract(html,"
      " '(?is)<title[^>]*>(.*?)</title>', 1), '')") + """ AS title,
  coalesce(regexp_extract(html,
      '(?is)<html\\b[^>]*\\blang="([^"]*)"', 1), '') AS lang_attr,
  length(coalesce(regexp_extract(html,
      '(?is)<meta\\s+name="description"\\s+content="([^"]*)"', 1),
      '')) AS desc_chars,
  coalesce(regexp_extract(html,
      '(?is)<link\\s+rel="canonical"\\s+href="([^"]*)"', 1), '')
      AS canonical_href,
  len(regexp_extract_all(html, '(?i)<h1\\b', 0)) AS n_h1
FROM mpg
ORDER BY doc_id
""")


# ---------------------------------------------------------------------------
# Q10: canonical_consolidation — rel=canonical dedup groups
# ---------------------------------------------------------------------------

def q_canonical_consolidation(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Group pages by their SELF-DECLARED canonical target (the
    rel=canonical hint real crawls consolidate on, distinct from
    URL-string identity): per target, how many pages point at it and
    whether the target page itself is among them (self-canonical)."""
    from hummingbird_spark.functions.html import canonical_link_href

    pages = _with_meta_page(load_table(spark, sf_dir, "documents"))
    own = F.concat(F.lit("https://site"),
                   (F.col("doc_id") % 7).cast("string"),
                   F.lit(".example/p/"), F.col("doc_id").cast("string"))
    decl = pages.select(
        "doc_id",
        canonical_url(canonical_link_href(F.col("html")))
        .alias("target"),
        (canonical_url(own) == canonical_url(
            canonical_link_href(F.col("html")))).cast("int")
        .alias("is_self"),
    )
    return (
        decl.groupBy("target")
        .agg(F.count(F.lit(1)).alias("n_pages"),
             F.sum("is_self").alias("n_self"),
             F.min("doc_id").alias("min_doc"))
        .orderBy("target")
    )


ORACLE_CANONICAL_CONSOLIDATION = (
    "WITH " + _meta_page_sql() + """,
decl0 AS (
  SELECT doc_id,
    coalesce(regexp_extract(html,
      '(?is)<link\\s+rel="canonical"\\s+href="([^"]*)"', 1), '')
      AS url,
    'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example/p/' ||
      CAST(doc_id AS VARCHAR) AS own
  FROM mpg),
dc AS (""" + _canon_select("decl0", "doc_id, own") + """),
oc AS (""" + _canon_select(
        "(SELECT doc_id, own AS url FROM decl0)", "doc_id") + """)
SELECT d.canonical_url AS target, COUNT(*) AS n_pages,
  CAST(SUM(CASE WHEN d.canonical_url = o.canonical_url
           THEN 1 ELSE 0 END) AS BIGINT) AS n_self,
  MIN(d.doc_id) AS min_doc
FROM dc d JOIN oc o ON d.doc_id = o.doc_id
GROUP BY d.canonical_url
ORDER BY target
""")


# ---------------------------------------------------------------------------
# Q11: sitemap_frontier — sitemap parse + crawl-frontier derivation
# ---------------------------------------------------------------------------
# Per-host sitemap fixture: 10 <url> entries pointing at real pages
# (ids h, h+7, ..., h+63) plus 3 fresh URLs that no page has — the
# frontier a crawler should fetch next. Every 5th entry omits the
# OPTIONAL lastmod (the r8 ADVICE case: positional loc/lastmod
# pairing shifts every later lastmod onto the wrong URL), and each
# host additionally publishes a <sitemapindex> row whose <loc> is a
# CHILD SITEMAP ref — it must be counted as a child ref, never as a
# frontier entry. The query parses per-<url> element (structural
# pairing), canonicalizes, and anti-joins the crawled canonical set.

_SITEMAP_REAL = 10
_SITEMAP_FRESH = 3
# namespace-prefix-tolerant, mirroring streaming/frontier.py
_NS_P = r"(?:[A-Za-z0-9_-]+:)?"
_SITEMAP_EL = rf"(?is)<{_NS_P}sitemap\b[^>]*>(.*?)</{_NS_P}sitemap>"
_LOC_EL = rf"(?is)<{_NS_P}loc>(.*?)</{_NS_P}loc>"


def _with_sitemap(docs: DataFrame) -> DataFrame:
    hosts = docs.select((F.col("doc_id") % 7).alias("h")).distinct()
    h = F.col("h")
    hs = h.cast("string")
    host = F.concat(F.lit("site"), hs, F.lit(".example"))

    def entry(i):
        loc = F.when(
            i < _SITEMAP_REAL,
            F.concat(F.lit("https://site"), hs, F.lit(".example/p/"),
                     (h + 7 * i).cast("string")),
        ).otherwise(
            F.concat(F.lit("https://site"), hs,
                     F.lit(".example/fresh/"), i.cast("string")))
        day = F.lpad(((h + i) % 28 + 1).cast("string"), 2, "0")
        mod = F.when(i % 5 == 4, F.lit("")).otherwise(
            F.concat(F.lit("<lastmod>2026-01-"), day,
                     F.lit("</lastmod>")))
        return F.concat(F.lit("<url><loc>"), loc, F.lit("</loc>"),
                        mod, F.lit("</url>"))

    urlset = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0),
                           F.lit(_SITEMAP_REAL + _SITEMAP_FRESH - 1)),
                entry), ""),
        F.lit("</urlset>"))
    # the index row uses NAMESPACE-PREFIXED tags — the common
    # real-world emission the parser must tolerate
    index = F.concat(
        F.lit('<?xml version="1.0"?><sm:sitemapindex><sm:sitemap>'
              "<sm:loc>https://site"), hs,
        F.lit(".example/sitemap-news.xml</sm:loc></sm:sitemap>"
              "</sm:sitemapindex>"))
    # one branch (explode of a 2-array), not a self-union: the union
    # form trips a Catalyst attribute-resolution bug when the nested
    # array lambdas downstream prune against both branches
    return hosts.select(
        host.alias("host"),
        F.explode(F.array(urlset, index)).alias("sitemap_xml"))


def q_sitemap_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap parse -> canonicalize -> anti the crawled set: per host
    the entry count, already-known count, frontier count, entries
    missing the optional lastmod, the newest lastmod (what a
    scheduler prioritizes by), and child-sitemap refs from
    <sitemapindex> rows (the one recursion level the protocol
    allows). Pairing is structural per <url> element via the shared
    streaming/frontier.py helper."""
    from hummingbird_spark.streaming.frontier import (
        sitemap_url_elements,
    )

    docs = load_table(spark, sf_dir, "documents")
    sm = _with_sitemap(docs)
    entries = (
        sm.select("host",
                  F.explode(sitemap_url_elements(F.col("sitemap_xml")))
                  .alias("e"))
        .filter(F.col("e.loc") != "")
        .select("host", canonical_url(F.col("e.loc")).alias("curl"),
                F.col("e.mod").alias("lastmod"))
    )
    refs = sm.groupBy("host").agg(
        F.sum(F.size(F.filter(
            F.regexp_extract_all(F.col("sitemap_xml"),
                                 F.lit(_SITEMAP_EL), F.lit(1)),
            lambda el: F.regexp_extract(el, _LOC_EL, 1) != "")))
        .alias("n_child_sitemaps"))
    crawled = _with_link_page(docs).select(
        canonical_url(F.col("base")).alias("curl"),
        F.lit(1).alias("__known"))
    joined = entries.join(F.broadcast(crawled), "curl", "left")
    return (
        joined.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_entries"),
            F.sum(F.coalesce("__known", F.lit(0))).alias("n_known"),
            F.sum(F.when(F.col("__known").isNull(), 1).otherwise(0))
            .alias("n_frontier"),
            F.sum(F.when(F.col("lastmod").isNull(), 1).otherwise(0))
            .alias("n_no_lastmod"),
            F.max("lastmod").alias("latest_lastmod"),
        )
        .join(F.broadcast(refs), "host")
        .orderBy("host")
    )


ORACLE_SITEMAP_FRONTIER = (
    "WITH " + _link_page_sql() + """,
hosts AS (SELECT DISTINCT doc_id % 7 AS h FROM documents),
sm AS (
  SELECT 'site' || CAST(h AS VARCHAR) || '.example' AS host,
    '<?xml version="1.0"?><urlset>' || array_to_string(
      list_transform(range(0, """
    + str(_SITEMAP_REAL + _SITEMAP_FRESH) + """), i ->
        '<url><loc>' ||
        CASE WHEN i < """ + str(_SITEMAP_REAL) + """
          THEN 'https://site' || CAST(h AS VARCHAR) || '.example/p/'
               || CAST(h + 7 * i AS VARCHAR)
          ELSE 'https://site' || CAST(h AS VARCHAR) ||
               '.example/fresh/' || CAST(i AS VARCHAR) END ||
        '</loc>' ||
        CASE WHEN i % 5 = 4 THEN ''
          ELSE '<lastmod>2026-01-' ||
               lpad(CAST((h + i) % 28 + 1 AS VARCHAR), 2, '0') ||
               '</lastmod>' END ||
        '</url>'), '') || '</urlset>' AS xml
  FROM hosts
  UNION ALL
  SELECT 'site' || CAST(h AS VARCHAR) || '.example' AS host,
    '<?xml version="1.0"?><sm:sitemapindex><sm:sitemap><sm:loc>' ||
    'https://site' || CAST(h AS VARCHAR) ||
    '.example/sitemap-news.xml</sm:loc></sm:sitemap>' ||
    '</sm:sitemapindex>' AS xml
  FROM hosts),
els AS (
  SELECT host,
    unnest(regexp_extract_all(xml,
        '(?is)<(?:[A-Za-z0-9_-]+:)?url\\b[^>]*>(.*?)' ||
        '</(?:[A-Za-z0-9_-]+:)?url>', 1)) AS el
  FROM sm),
ent0 AS (
  SELECT host,
    regexp_extract(el, '(?is)<(?:[A-Za-z0-9_-]+:)?loc>(.*?)' ||
        '</(?:[A-Za-z0-9_-]+:)?loc>', 1) AS url,
    nullif(regexp_extract(el,
        '(?is)<(?:[A-Za-z0-9_-]+:)?lastmod>(.*?)' ||
        '</(?:[A-Za-z0-9_-]+:)?lastmod>', 1), '') AS lastmod
  FROM els
  WHERE regexp_extract(el, '(?is)<(?:[A-Za-z0-9_-]+:)?loc>(.*?)' ||
        '</(?:[A-Za-z0-9_-]+:)?loc>', 1) <> ''),
refs AS (
  SELECT host, CAST(SUM(len(list_filter(
      regexp_extract_all(xml,
          '(?is)<(?:[A-Za-z0-9_-]+:)?sitemap\\b[^>]*>(.*?)' ||
          '</(?:[A-Za-z0-9_-]+:)?sitemap>', 1),
      e -> regexp_extract(e, '(?is)<(?:[A-Za-z0-9_-]+:)?loc>(.*?)' ||
          '</(?:[A-Za-z0-9_-]+:)?loc>', 1) <> ''))) AS BIGINT)
      AS n_child_sitemaps
  FROM sm GROUP BY host),
ec AS (""" + _canon_select("ent0", "host, lastmod") + """),
pu AS (SELECT doc_id, base AS url FROM lpg),
pc AS (SELECT DISTINCT canonical_url FROM ("""
    + _canon_select("pu", "doc_id") + """))
SELECT e.host, COUNT(*) AS n_entries,
  CAST(SUM(CASE WHEN p.canonical_url IS NOT NULL THEN 1 ELSE 0 END)
      AS BIGINT) AS n_known,
  CAST(SUM(CASE WHEN p.canonical_url IS NULL THEN 1 ELSE 0 END)
      AS BIGINT) AS n_frontier,
  CAST(SUM(CASE WHEN e.lastmod IS NULL THEN 1 ELSE 0 END)
      AS BIGINT) AS n_no_lastmod,
  MAX(e.lastmod) AS latest_lastmod,
  MIN(r.n_child_sitemaps) AS n_child_sitemaps
FROM ec e
LEFT JOIN pc p ON e.canonical_url = p.canonical_url
JOIN refs r ON e.host = r.host
GROUP BY e.host
ORDER BY e.host
""")


WEB_QUERIES: dict[str, tuple] = {
    "sitemap_discovery": (
        q_sitemap_discovery, ORACLE_SITEMAP_DISCOVERY,
        "robots Sitemap: directives -> per-host sitemap discovery "
        "audit (host-wide, comment-stripped, deduped)"),
    "sitemap_frontier": (
        q_sitemap_frontier, ORACLE_SITEMAP_FRONTIER,
        "sitemap loc/lastmod parse -> canonicalize -> anti the "
        "crawled set: the per-host crawl frontier"),
    "canonical_consolidation": (
        q_canonical_consolidation, ORACLE_CANONICAL_CONSOLIDATION,
        "rel=canonical dedup groups: pages per self-declared target + "
        "self-canonical count"),
    "page_metadata": (
        q_page_metadata, ORACLE_PAGE_METADATA,
        "head-element extraction: title, lang attr, description "
        "length, self-declared canonical, h1 count"),
    "robots_crawl_verdicts": (
        q_robots_crawl_verdicts, ORACLE_ROBOTS_VERDICTS,
        "robots.txt politeness (RFC 9309 subset): group state machine, "
        "agent selection with '*' fallback, longest-prefix verdicts "
        "with Allow winning ties, crawl-delay surfacing"),
    "page_out_links": (
        q_page_out_links, ORACLE_PAGE_OUT_LINKS,
        "anchor extraction + RFC 3986-subset resolution: per-page "
        "reference-form and internal/external audit, zero-shuffle"),
    "web_link_pagerank": (
        q_web_link_pagerank, ORACLE_WEB_LINK_PAGERANK,
        "PageRank over the REAL extracted link graph (resolve + "
        "canonicalize hrefs, join to pages' canonical URLs, exact "
        "scaled-integer rounds)"),
    "versioned_pagerank": (
        q_versioned_pagerank, ORACLE_VERSIONED_PAGERANK,
        "PageRank through the update-aware VERSIONED edge store: "
        "recrawl batch retracts/adds directed ops (max-seq-wins), "
        "logical GC below the watermark, oracle = from-scratch over "
        "latest page versions"),
    "html_main_text_stats": (
        q_html_main_text_stats, ORACLE_HTML_MAIN_TEXT,
        "HTML -> main-text extraction audit: block segmentation + "
        "link-density boilerplate filter (jusText-style), pure "
        "per-row array projection"),
    "page_entity_stats": (
        q_page_entity_stats, ORACLE_PAGE_ENTITY_STATS,
        "character-reference decode audit: named/numeric/unknown "
        "token split + decode shrinkage per source, over the full "
        "WHATWG table (one-pass tokenizer)"),
    "warc_extract_stats": (
        q_warc_extract_stats, ORACLE_WARC_EXTRACT,
        "WARC record parse audit: Content-Length validation, HTTP "
        "status, full body roundtrip vs the rebuilt page"),
    "url_canonical_dups": (
        q_url_canonical_dups, ORACLE_URL_CANONICAL_DUPS,
        "URL canonicalization (tracking strip, param sort, www/port/"
        "slash normalization) as a crawl dedup key"),
    "domain_curation_stats": (
        q_domain_curation_stats, ORACLE_DOMAIN_STATS,
        "registered-domain (PSL-lite eTLD+1) rollup with blocklist "
        "verdicts"),
    "warc_html_pipeline": (
        q_warc_html_pipeline, ORACLE_WARC_HTML_PIPELINE,
        "end-to-end crawl front end: WARC parse -> HTML body -> "
        "main-text extraction -> per-source corpus rollup"),
}
