"""HTML -> text extraction and URL canonicalization for web-crawl
ingestion (the Common-Crawl-shaped front end of a training-data
pipeline; no reference analogue — the reference ingests already-clean
collections, see SURVEY §2.1).

All pure Column expressions (JVM-side, whole-stage codegen): tag
stripping, entity decode, block segmentation with per-block link
density (a jusText-style main-content heuristic, Pomikálek 2011), and
URL canonicalization with tracking-parameter removal. No Python UDFs
and — deliberately — no explode/groupBy round trip: blocks live as a
per-document array and the density filter is `F.filter` over that
array, so extraction is a narrow projection riding the scan (zero
shuffle at any corpus size).

Regex subset is chosen to mean the same thing in Java regex (Spark)
and RE2 (DuckDB oracles): inline (?is) flags, non-greedy `.*?`, no
backreferences, no lookaround.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tags whose boundaries terminate a text block. Inline tags (<a>, <b>,
# <span>, ...) stay inside the block so link density is computable.
BLOCK_TAGS = ("p|div|h[1-6]|li|ul|ol|br|nav|footer|header|table|tr|td|"
              "th|article|section|blockquote|pre|title|html|head|body")
BLOCK_SPLIT_RE = rf"(?is)</?(?:{BLOCK_TAGS})\b[^>]*>"

_SCRIPT_RE = r"(?is)<script\b[^>]*>.*?</script>"
_STYLE_RE = r"(?is)<style\b[^>]*>.*?</style>"
_COMMENT_RE = r"(?s)<!--.*?-->"
_TAG_RE = r"(?is)<[^>]*>"
_ANCHOR_RE = r"(?is)<a\b[^>]*>(.*?)</a>"

# Full WHATWG named-character-reference table (the semicolon forms),
# taken from the stdlib's spec-derived `html.entities.html5` mapping.
# Keys are case-SENSITIVE per the spec ('amp' and 'AMP' are separate
# entries; '&Amp;' is not a reference); values may be multi-codepoint
# (e.g. NotEqualTilde). ~2125 names — the 23-entry curated table this
# replaces under-decoded real pages.
NAMED_ENTITIES: dict[str, str] = {
    name[:-1]: text
    for name, text in __import__("html.entities", fromlist=["html5"])
    .html5.items()
    if name.endswith(";")
}

# WHATWG LEGACY named references: the ~106 HTML4-era names that also
# decode WITHOUT a trailing semicolon (the non-';' keys of the spec
# table). They double as the longest-PREFIX fallback for unmatched
# names — '&notareal;' decodes as '&not' + 'areal;', exactly
# html.unescape's loop. Lengths 2..6, no name is a prefix of another
# (asserted), so descending-length first-hit IS longest-match.
LEGACY_ENTITIES: dict[str, str] = {
    name: text
    for name, text in __import__("html.entities", fromlist=["html5"])
    .html5.items()
    if not name.endswith(";")
}
_LEGACY_LMAX = max(len(k) for k in LEGACY_ENTITIES)
_LEGACY_LMIN = min(len(k) for k in LEGACY_ENTITIES)
assert _LEGACY_LMAX == 6 and _LEGACY_LMIN == 2
assert not any(a != b and b.startswith(a)
               for a in LEGACY_ENTITIES for b in LEGACY_ENTITIES)

# WHATWG numeric-reference windows-1252 remap: code points 0x80-0x9F
# are historical cp1252 bytes, not C1 controls — '&#147;' means a
# curly quote on real pages. Derived from the stdlib decoder (not a
# private table) so the differential test is tautologically aligned.
W1252_REMAP: dict[int, str] = {
    cp: __import__("html").unescape("&#%d;" % cp)
    for cp in range(0x80, 0xA0)
}

# Sentinel for the entity-token rewrite (never occurs in page text;
# documented contract — pages containing \x01 would mis-split).
_NUM_SENT = "\x01"

# One token pass over all four reference forms: numeric (';'
# optional, per the spec's parse-error-but-decode rule) and named
# (the ';'-terminated general case plus the bare legacy form
# '&amp x'). The token CARRIES its trailing ';' when present (the
# decoder needs the distinction; the restore path must not invent
# one). Length bounds: hex <= 6 digits / dec <= 7 digits cover all
# of Unicode; the longest WHATWG name is 31 chars. A digit run
# LONGER than the bound (always an out-of-range scalar) tokenizes
# its bounded prefix and leaves the tail as text — same
# documented-divergence class as the ''-for-U+FFFD rule. Identical
# pattern string in the DuckDB oracles.
ENTITY_TOKEN_RE = (r"&(#[xX][0-9a-fA-F]{1,6};?|#[0-9]{1,7};?"
                   r"|[A-Za-z][A-Za-z0-9]{1,31};?)")

# str_to_map delimiters for the literal entity map: building the map
# as 2×2125 F.lit() calls costs ~3s of py4j round trips PER CALL
# SITE at plan-build time; str_to_map over embedded string literals
# parses JVM-side in ~ms and constant-folds to the same maps.
# \x02/\x03 never occur in entity names or values (asserted at
# import).
assert not any("\x02" in v or "\x03" in v
               for v in NAMED_ENTITIES.values())


def _codepoint_char(cp: Column) -> Column:
    """Code point -> character, JVM-side: Spark's char() is
    ASCII-mod-256, so build the UTF-16BE bytes instead (surrogate-pair
    arithmetic above the BMP) and decode them. Invalid scalar values
    (<= 0, the surrogate range, > 0x10FFFF) yield '' — mirrored by
    the chr() guard in the DuckDB oracles."""
    bmp = F.decode(F.unhex(F.lpad(F.hex(cp), 4, "0")), "UTF-16BE")
    hi = F.lit(0xD800) + F.shiftright(cp - F.lit(0x10000), 10)
    lo = F.lit(0xDC00) + (cp - F.lit(0x10000)) % F.lit(1024)
    sup = F.decode(
        F.unhex(F.concat(F.lpad(F.hex(hi), 4, "0"),
                         F.lpad(F.hex(lo), 4, "0"))), "UTF-16BE")
    invalid = (cp.isNull() | (cp <= 0)
               | ((cp >= 0xD800) & (cp <= 0xDFFF)) | (cp > 0x10FFFF))
    return F.when(invalid, F.lit("")) \
        .when(cp > 0xFFFF, sup).otherwise(bmp)


_ENT_MAP_COL: Column | None = None


def _entity_map() -> Column:
    """The NAMED_ENTITIES table as a NESTED map literal
    (first char -> (name -> text)), built from str_to_map
    expressions over embedded blobs. Constant-folded by Catalyst;
    the lookup is a zero-shuffle probe that works inside array
    lambdas — the functions/psl.py literal-map template.

    Two-level on purpose: Catalyst's GetMapValue over a literal map
    is a LINEAR scan, so one flat 2125-entry map costs ~2k string
    compares per probe (measured ~+2 s on the entity-heavy sf0.1
    bench entries); bucketing by first character cuts it to ~50 + 40.
    The assembled Column is CACHED per process: the F.expr parses
    cost a py4j round trip + JVM SQL parse each, decode_entities has
    multiple call sites per query, and the tree is immutable and
    session-independent — one build serves every plan."""
    global _ENT_MAP_COL
    if _ENT_MAP_COL is None:
        groups: dict[str, dict[str, str]] = {}
        for k, v in NAMED_ENTITIES.items():
            groups.setdefault(k[0], {})[k] = v
        firsts = []
        subs = []
        for c in sorted(groups):
            blob = "\x03".join(k + "\x02" + v
                               for k, v in groups[c].items())
            blob = blob.replace("\\", "\\\\").replace("'", "\\'")
            firsts.append(F.lit(c))
            subs.append(F.expr(
                "str_to_map('%s', '\\u0003', '\\u0002')" % blob))
        _ENT_MAP_COL = F.map_from_arrays(F.array(*firsts),
                                         F.array(*subs))
    return _ENT_MAP_COL


_LEGACY_MAP_COL: Column | None = None
_W1252_MAP_COL: Column | None = None


def _legacy_map() -> Column:
    """LEGACY_ENTITIES as one FLAT str_to_map literal (106 entries —
    a linear probe here is ~50 compares and only runs on the named
    MISS path, i.e. unknown names; known names short-circuit on the
    bucketed full map). Process-cached like _entity_map()."""
    global _LEGACY_MAP_COL
    if _LEGACY_MAP_COL is None:
        blob = "\x03".join(k + "\x02" + v
                           for k, v in LEGACY_ENTITIES.items())
        blob = blob.replace("\\", "\\\\").replace("'", "\\'")
        _LEGACY_MAP_COL = F.expr(
            "str_to_map('%s', '\\u0003', '\\u0002')" % blob)
    return _LEGACY_MAP_COL


def _w1252_map() -> Column:
    """W1252_REMAP as a str_to_map literal keyed by the DECIMAL code
    point string (32 entries; probed once per numeric token)."""
    global _W1252_MAP_COL
    if _W1252_MAP_COL is None:
        blob = "\x03".join(str(cp) + "\x02" + ch
                           for cp, ch in W1252_REMAP.items())
        blob = blob.replace("\\", "\\\\").replace("'", "\\'")
        _W1252_MAP_COL = F.expr(
            "str_to_map('%s', '\\u0003', '\\u0002')" % blob)
    return _W1252_MAP_COL


def named_ref_decode(tok: Column, name: Column) -> Column:
    """Decode of one NAMED reference token, or NULL if it restores
    literally. `tok` is the raw token (trailing ';' kept when
    present), `name` the token without that ';'. Match order is the
    WHATWG/stdlib one: (1) full name, ';' forms only, on the bucketed
    spec table; (2) longest LEGACY prefix, lengths 6..2 descending —
    the hit's decoded text plus the unconsumed tail (which keeps the
    ';' literal). substring past the token end yields '', so probes
    at L >= token length degrade to full-token probes, and concat's
    NULL propagation turns each missed probe into a skipped coalesce
    arm (one map probe per length, no double eval)."""
    emap = _entity_map()
    full = F.when(
        tok.endswith(";"),
        F.element_at(F.element_at(emap, F.substring(name, 1, 1)),
                     name))
    lmap = _legacy_map()
    probes = [
        F.concat(F.element_at(lmap, F.substring(tok, 1, length)),
                 F.substring(tok, length + 1, 40))
        for length in range(_LEGACY_LMAX, _LEGACY_LMIN - 1, -1)
    ]
    return F.coalesce(full, *probes)


def decode_entities(col: Column) -> Column:
    """ONE left-to-right pass over both numeric (&#NN;/&#xHH;) and
    named (&name;) character references, as a bounded split/transform
    (no UDF, no explode): reference tokens rewrite to
    sentinel-delimited form, the string splits on the sentinel, and
    odd elements decode — numeric via `_codepoint_char`, named via
    the WHATWG literal map (unknown names restore literally).

    Single-pass is the HTML parser's non-rescanning semantics: a
    consumed reference's output never recombines with following
    text, so '&amp;lt;', '&#38;lt;' and '&amp;#65;' all stay the
    literal texts '&lt;' / '&lt;' / '&#65;' (the double-escape
    rule). A numeric-then-named two-pass decoder gets '&#38;lt;'
    wrong (the decoded '&' re-combines into a second decode).

    WHATWG coverage beyond the ';' forms: bare LEGACY names ('&amp '
    -> '& '), longest-legacy-prefix fallback for unmatched names
    ('&notareal;' -> '¬areal;'), and the windows-1252 numeric
    remap for 0x80-0x9F ('&#147;' -> '“'). Remaining documented
    divergences (mirrored in the DuckDB oracles): invalid numeric
    scalars (0, surrogates, > 0x10FFFF) yield '' not U+FFFD,
    control/noncharacter code points pass through raw instead of
    being dropped, and numeric references still require the ';'."""
    m = F.regexp_replace(col, ENTITY_TOKEN_RE,
                         _NUM_SENT + "$1" + _NUM_SENT)
    parts = F.split(m, _NUM_SENT)
    w1252 = _w1252_map()

    def _dec(p: Column) -> Column:
        # bind the ';'-stripped token once (interpreted-lambda rule:
        # a 1-element transform is the closure idiom)
        def _with_name(pn: Column) -> Column:
            cp = F.when(
                pn.rlike("^#[xX]"),
                F.conv(F.substring(pn, 3, 8), 16, 10).cast("long"),
            ).otherwise(F.substring(pn, 2, 8).cast("long"))
            num = F.coalesce(
                F.element_at(w1252, cp.cast("string")),
                _codepoint_char(cp))
            return F.when(p.startswith("#"), num) \
                .otherwise(F.coalesce(
                    named_ref_decode(p, pn),
                    F.concat(F.lit("&"), p)))

        return F.element_at(
            F.transform(F.array(F.regexp_replace(p, ";$", "")),
                        _with_name), 1)

    return F.array_join(
        F.transform(
            parts,
            lambda p, i: F.when(i % 2 == 1, _dec(p)).otherwise(p)),
        "")

# Query parameters that never change page identity (analytics junk).
TRACKING_PARAMS = ("utm_", "fbclid", "gclid", "msclkid", "ref")


def strip_noise(html: Column) -> Column:
    """Remove <script>/<style> bodies and comments (must run before
    block splitting — script text may contain '<' and block tags)."""
    out = F.regexp_replace(html, _SCRIPT_RE, " ")
    out = F.regexp_replace(out, _STYLE_RE, " ")
    return F.regexp_replace(out, _COMMENT_RE, " ")


def _decode_entities(col: Column) -> Column:
    # one contains() scan gates the whole tokenize/decode chain —
    # decode is the identity on '&'-free text (most blocks), and
    # lambdas are interpreted, so skipped ops are real savings
    return F.when(col.contains("&"), decode_entities(col)) \
        .otherwise(col)


def block_text(raw: Column) -> Column:
    """Visible text of one block's inner HTML: inline tags out,
    entities decoded, whitespace collapsed, trimmed."""
    out = F.regexp_replace(raw, _TAG_RE, " ")
    out = _decode_entities(out)
    return F.trim(F.regexp_replace(out, r"[ \t\r\n]+", " "))


def block_structs(html: Column) -> Column:
    """array<struct<text, chars, anchor_chars>> — one entry per
    non-empty text block of the (noise-stripped) page. The anchor
    character count powers the link-density boilerplate heuristic.

    Performance: higher-order-function lambdas are interpreted (no
    whole-stage-codegen subexpression elimination), so the regexp
    chain in block_text() must be evaluated ONCE per block — the inner
    transform binds (text, anchor_chars) into a struct element, and
    the outer transform derives `chars` from the already-computed
    field instead of re-running the chain. Measured 2-3x on the
    extraction bench vs the naive three-evaluation form."""
    cleaned = strip_noise(html)
    raws = F.split(cleaned, BLOCK_SPLIT_RE)
    once = F.transform(
        raws,
        lambda b: F.struct(
            block_text(b).alias("text"),
            F.aggregate(
                F.transform(F.regexp_extract_all(b, F.lit(_ANCHOR_RE),
                                                 F.lit(1)),
                            lambda a: F.length(block_text(a))),
                F.lit(0),
                lambda acc, x: acc + x,
            ).alias("anchor_chars"),
        ),
    )
    blocks = F.transform(
        once,
        lambda s: F.struct(
            s["text"].alias("text"),
            F.length(s["text"]).alias("chars"),
            s["anchor_chars"].alias("anchor_chars"),
        ),
    )
    return F.filter(blocks, lambda s: s["chars"] > 0)


def main_text_from(blocks: Column, min_chars: int = 10,
                   max_link_density: float = 0.34) -> Column:
    """main_text() over an ALREADY-BOUND block_structs column.

    Performance contract (the ngrams_from_tokens discipline): when a
    plan needs both the text and the stats, select block_structs(...)
    into a column first and derive both from it — Catalyst keeps a
    multiply-referenced non-trivial alias in its own projection, so
    the extraction chain runs once per page instead of once per
    consumer."""
    kept = F.filter(
        blocks,
        lambda s: (s["chars"] >= min_chars)
        & (s["anchor_chars"] * 100 <= F.lit(int(max_link_density * 100))
           * s["chars"]),
    )
    return F.array_join(F.transform(kept, lambda s: s["text"]), "\n")


def main_text(html: Column, min_chars: int = 10,
              max_link_density: float = 0.34) -> Column:
    """Kept-block text joined by newline: a block survives when it is
    long enough AND its anchor-text share is below the boilerplate
    threshold (nav bars / tag clouds / footers are mostly links)."""
    return main_text_from(block_structs(html), min_chars,
                          max_link_density)


def block_stats_from(blocks: Column, min_chars: int = 10,
                     max_link_density: float = 0.34) -> Column:
    """block_stats() over an ALREADY-BOUND block_structs column (see
    main_text_from for the binding contract)."""
    ld_bad = F.filter(
        blocks,
        lambda s: s["anchor_chars"] * 100
        > F.lit(int(max_link_density * 100)) * s["chars"],
    )
    kept = F.filter(
        blocks,
        lambda s: (s["chars"] >= min_chars)
        & (s["anchor_chars"] * 100 <= F.lit(int(max_link_density * 100))
           * s["chars"]),
    )
    return F.struct(
        F.size(blocks).alias("n_blocks"),
        F.size(kept).alias("kept_blocks"),
        F.aggregate(F.transform(kept, lambda s: s["chars"]), F.lit(0),
                    lambda a, x: a + x).alias("kept_chars"),
        F.size(ld_bad).alias("dropped_link"),
        # density-OK but too short; n_blocks = kept + link + short
        (F.size(blocks) - F.size(kept) - F.size(ld_bad))
        .alias("dropped_short"),
    )


def block_stats(html: Column, min_chars: int = 10,
                max_link_density: float = 0.34) -> Column:
    """struct(n_blocks, kept_blocks, kept_chars, dropped_link,
    dropped_short) for the page — the per-document extraction audit.
    Link-density drops are counted before length drops (a short
    link-soup block counts as dropped_link)."""
    return block_stats_from(block_structs(html), min_chars,
                            max_link_density)


# ---------------------------------------------------------------------------
# URL canonicalization
# ---------------------------------------------------------------------------

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_AUTH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
_QUERY_RE = r"\?([^#]*)"


def url_scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, _SCHEME_RE, 1))


def url_host(url: Column) -> Column:
    """Lowercased host with any :port and a leading www. removed."""
    auth = F.lower(F.regexp_extract(url, _AUTH_RE, 1))
    host = F.regexp_replace(auth, r":[0-9]*$", "")
    return F.regexp_replace(host, r"^www\.", "")


def url_port(url: Column) -> Column:
    """Explicit port or '' — default ports (http:80 / https:443) are
    dropped so explicit-default and implicit URLs unify."""
    auth = F.lower(F.regexp_extract(url, _AUTH_RE, 1))
    port = F.regexp_extract(auth, r":([0-9]+)$", 1)
    scheme = url_scheme(url)
    return F.when(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")) | (port == ""),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))


def url_path(url: Column) -> Column:
    """Path with duplicate slashes collapsed and the trailing slash
    removed (root stays '/'; empty path becomes '/')."""
    p = F.regexp_extract(url, _PATH_RE, 1)
    p = F.regexp_replace(p, r"//+", "/")
    p = F.regexp_replace(p, r"(.)/$", "$1")
    return F.when(p == "", F.lit("/")).otherwise(p)


def url_query_canonical(url: Column) -> Column:
    """Query string with tracking params removed and the rest sorted
    (param order never changes page identity); '' when nothing
    survives."""
    q = F.regexp_extract(url, _QUERY_RE, 1)
    parts = F.filter(
        F.split(q, "&"),
        lambda kv: (F.length(kv) > 0)
        & ~F.exists(
            F.array(*[F.lit(t) for t in TRACKING_PARAMS]),
            lambda t: kv.startswith(t),
        ),
    )
    return F.array_join(F.array_sort(parts), "&")


def canonical_url(url: Column) -> Column:
    """Scheme-lowered, www/default-port-stripped, slash-normalized,
    tracking-free, param-sorted, fragment-free canonical form — the
    dedup key for crawl URLs.

    IDN hosts (documented decision): hosts are opaque octet strings
    here — the Unicode ('münchen.example') and punycode
    ('xn--mnchen-3ya.example') spellings of the same host are
    DISTINCT canonical identities. Bootstring decoding has no sane
    fixed-depth Column-expression form, and keeping the forms apart
    is lossless. Pipelines that need DNS-form identity must normalize
    hosts to one spelling before this."""
    q = url_query_canonical(url)
    return F.concat(
        url_scheme(url), F.lit("://"), url_host(url), url_port(url),
        url_path(url),
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )


# ---------------------------------------------------------------------------
# Head metadata (title / lang / description / canonical hint)
# ---------------------------------------------------------------------------

def page_title(html: Column) -> Column:
    """<title> text, entity-decoded and whitespace-normalized; '' when
    absent."""
    return block_text(
        F.regexp_extract(html, r"(?is)<title[^>]*>(.*?)</title>", 1))


def html_lang(html: Column) -> Column:
    """The <html lang="..."> attribute; '' when absent."""
    return F.regexp_extract(html, r'(?is)<html\b[^>]*\blang="([^"]*)"',
                            1)


def meta_description(html: Column) -> Column:
    """content of <meta name="description" ...>; '' when absent."""
    return F.regexp_extract(
        html,
        r'(?is)<meta\s+name="description"\s+content="([^"]*)"', 1)


def canonical_link_href(html: Column) -> Column:
    """href of <link rel="canonical" ...> — the page's self-declared
    dedup key; '' when absent."""
    return F.regexp_extract(
        html, r'(?is)<link\s+rel="canonical"\s+href="([^"]*)"', 1)


def h1_count(html: Column) -> Column:
    return F.size(F.regexp_extract_all(html, F.lit(r"(?i)<h1\b"),
                                       F.lit(0)))


# ---------------------------------------------------------------------------
# Link extraction + reference resolution (RFC 3986 subset)
# ---------------------------------------------------------------------------

# double-quoted, single-quoted, or UNQUOTED attribute values (the
# HTML spec's unquoted form: no whitespace/quotes/'>'; common in
# minified and legacy markup). Quoted alternatives first so a quoted
# value never half-matches as unquoted.
_HREF_RE = r"(?is)<a\b[^>]*href=(\"[^\"]*\"|'[^']*'|[^\s\"'>][^\s>]*)"
_ABS_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://"
# scheme-prefixed but NOT hierarchical (no '://'): mailto:, tel:,
# javascript:, data:, ... — absolute URIs with opaque payloads, not
# crawlable links; left un-filtered they would resolve as RELATIVE
# ("https://host/dir/mailto:x@y") and pollute the link graph
_OPAQUE_RE = r"^[A-Za-z][A-Za-z0-9+.-]*:"


def extract_hrefs(html: Column) -> Column:
    """Raw href values of every anchor — double-quoted, single-quoted,
    or unquoted — in document order (one alternation capture keeps
    the interleaving; surrounding quotes are stripped after the fact,
    unquoted values pass through as-is)."""
    vals = F.regexp_extract_all(html, F.lit(_HREF_RE), F.lit(1))
    return F.transform(
        vals,
        lambda q: F.when(
            q.startswith('"') | q.startswith("'"),
            F.substring(q, F.lit(2), F.length(q) - 2)).otherwise(q))


def base_href(html: Column) -> Column:
    """href of the first <base href="..."> element, '' when absent —
    HTML's document-wide resolution-base override."""
    return F.regexp_extract(
        html, r"(?is)<base\b[^>]*href=[\"']([^\"']*)[\"']", 1)


def url_origin(url: Column) -> Column:
    """scheme://host[:port], lowercased — the resolution base for
    root-relative references."""
    return F.concat(url_scheme(url), F.lit("://"),
                    F.lower(F.regexp_extract(url, _AUTH_RE, 1)))


# one path segment that is NOT "." or ".." (RE2-safe: no lookaround)
_DOT_SEG = r"(?:[^/.][^/]*|\.[^/.][^/]*|\.\.[^/]+)"
# a path that still contains a "." or ".." segment
_HAS_DOTS_RE = r"/\.\.?(/|$)"
DOT_FOLD_ITERS = 8


def remove_dot_segments(path: Column,
                        iters: int = DOT_FOLD_ITERS) -> Column:
    """RFC 3986 §5.2.4 over a path string, as a BOUNDED iterated
    regexp chain (engine-portable: no loops, no lookaround — the
    same chain replays in the DuckDB oracles). Each iteration clamps
    leading '/../' at the root, removes '/./' segments, then folds
    one nesting level of '<seg>/../'. `iters` bounds the nesting
    depth handled (documented contract: more than 8 consecutive
    parent hops stay unfolded — real hrefs use 1-3)."""
    p = path
    for _ in range(iters):
        p = F.regexp_replace(p, r"^/\.\./", "/")
        p = F.regexp_replace(p, r"^/\.\.$", "/")
        p = F.regexp_replace(p, r"/\./", "/")
        p = F.regexp_replace(p, r"/\.$", "/")
        p = F.regexp_replace(p, "/" + _DOT_SEG + r"/\.\./", "/")
        p = F.regexp_replace(p, "/" + _DOT_SEG + r"/\.\.$", "/")
    return p


def _resolve_ctx(base: Column) -> Column:
    """The base-derived resolution context (scheme, origin, base
    dir) as one struct — computed ONCE per row and bound into the
    per-href lambdas (which are interpreted: an inline form would
    re-run these four regexes for every href of the page)."""
    bdir = F.regexp_replace(
        F.regexp_extract(base, _PATH_RE, 1), r"/[^/]*$", "")
    return F.struct(
        url_scheme(base).alias("scheme"),
        url_origin(base).alias("origin"),
        bdir.alias("bdir"),
    )


def _resolve_href_ctx(href: Column, c: Column) -> Column:
    """resolve_href body over an already-bound context struct."""
    resolved = (
        F.when(href.rlike(_ABS_RE), href)
        .when(href.startswith("//"),
              F.concat(c["scheme"], F.lit(":"), href))
        .when(href.startswith("/"), F.concat(c["origin"], href))
        .otherwise(F.concat(c["origin"], c["bdir"], F.lit("/"), href))
    )

    # bind `resolved` ONCE via a 1-element transform (the
    # block_structs discipline): the fold references it three times,
    # and resolution usually runs inside interpreted lambdas where
    # repeated subtrees re-evaluate
    def _fold(r: Column) -> Column:
        folded = F.concat(
            F.regexp_extract(
                r, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1),
            remove_dot_segments(F.regexp_extract(r, _PATH_RE, 1)),
            F.regexp_extract(r, r"^[^?#]*([?#].*)", 1),
        )
        return F.when(r.rlike(_HAS_DOTS_RE), folded).otherwise(r)

    return F.element_at(F.transform(F.array(resolved), _fold), 1)


def resolve_href(href: Column, base: Column) -> Column:
    """Resolve one reference against a base URL. Supported subset
    (documented contract, same in the SQL oracles): absolute,
    protocol-relative (//host/...), root-relative (/path), and plain
    relative (resolved against the base's directory). './' and '../'
    segments fold per RFC 3986 §5.2.4 via `remove_dot_segments`
    (applied only when the resolved form still contains a dot
    segment, so the common case stays a single conditional chain)."""
    return F.element_at(
        F.transform(F.array(_resolve_ctx(base)),
                    lambda c: _resolve_href_ctx(href, c)), 1)


def extract_links(html: Column, base: Column,
                  honor_base_tag: bool = False) -> Column:
    """All anchor targets of a page as resolved absolute URLs (array,
    document order) — feed through canonical_url() for identity.
    With honor_base_tag, a <base href> element overrides the
    resolution base per the HTML spec (the base tag's own href
    resolves against the page URL first, so relative bases work)."""
    eff = base
    if honor_base_tag:
        b = base_href(html)
        eff = F.when(b == "", base).otherwise(resolve_href(b, base))
    crawlable = F.filter(
        extract_hrefs(html),
        lambda h: h.rlike(_ABS_RE) | ~h.rlike(_OPAQUE_RE))
    # bind the base-derived context ONCE per row, outside the
    # per-href lambda — 4 regexes per page instead of per href
    return F.element_at(
        F.transform(
            F.array(_resolve_ctx(eff)),
            lambda c: F.transform(
                crawlable, lambda h: _resolve_href_ctx(h, c))), 1)


# Minimal public-suffix subset: second-level registries where the
# registered domain spans three labels (news.bbc.co.uk -> bbc.co.uk).
# A production table swaps in the full PSL; the expression shape is
# identical.
SECOND_LEVEL_SUFFIXES = ("co", "com", "org", "net", "gov", "ac", "edu")


def registered_domain(host: Column) -> Column:
    """eTLD+1 under the PSL-lite table above."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    second = F.element_at(labels, n - 1)
    take3 = (n >= 3) & F.exists(
        F.array(*[F.lit(s) for s in SECOND_LEVEL_SUFFIXES]),
        lambda s: s == second,
    )
    return F.when(
        take3,
        F.concat_ws(".", F.element_at(labels, n - 2), second,
                    F.element_at(labels, n)),
    ).otherwise(
        F.when(n >= 2,
               F.concat_ws(".", second, F.element_at(labels, n)))
        .otherwise(host)
    )
