"""Web-crawl ingestion: HTML -> text extraction, URL canonicalization,
WARC record parsing (functions/html.py, sources/warc.py).

The registry queries' full SQL parity rides test_oracle_parity.py;
these tests pin the behaviors on crafted snippets — the cases the
synthetic fixture can't isolate (malformed records, entity ordering,
port/scheme edge cases, the lineSep scale reader on a real file).
"""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from hummingbird_spark.functions.html import (
    block_stats_from,
    block_structs,
    canonical_url,
    main_text_from,
    registered_domain,
    url_host,
)
from hummingbird_spark.sources.warc import (
    parse_warc_records,
    read_warc,
    render_warc_record,
)

PAGE = (
    '<html><head><title>Doc 7</title><style>p {color: red}</style>'
    '<script type="text/javascript">var x = 1 < 2; track("7");'
    '</script></head><body>'
    '<nav><a href="/home">Home</a> <a href="/a">About &amp; Co</a></nav>'
    '<!-- build 7 --><h1>src3 report seven</h1>'
    '<div id="main"><p>alpha beta gamma delta words here now</p>'
    '<p>second paragraph of body text</p></div>'
    '<footer>&copy; 2026 <a href="/p">Privacy</a> <a href="/b">Terms</a>'
    '</footer></body></html>'
)


def _one(spark, html):
    return spark.range(1).select(F.lit(html).alias("h"))


def _main_text(html, **kw):
    return main_text_from(block_structs(html), **kw)


class TestHtmlExtraction:
    def test_script_style_comment_removed(self, spark):
        row = _one(spark, PAGE).select(
            _main_text(F.col("h")).alias("mt")).head()
        assert "color: red" not in row.mt
        assert "track" not in row.mt
        assert "build 7" not in row.mt
        # the '<' inside the script body must not break tag stripping
        assert "var x" not in row.mt

    def test_link_density_drops_nav_and_footer(self, spark):
        row = _one(spark, PAGE).select(
            _main_text(F.col("h")).alias("mt"),
            block_stats_from(block_structs(F.col("h"))).alias("st")).head()
        assert "Home" not in row.mt and "Privacy" not in row.mt
        assert row.mt.split("\n") == [
            "src3 report seven",
            "alpha beta gamma delta words here now",
            "second paragraph of body text",
        ]
        st = row.st.asDict()
        assert st["n_blocks"] == st["kept_blocks"] \
            + st["dropped_link"] + st["dropped_short"]
        assert st["kept_blocks"] == 3
        assert st["dropped_link"] >= 2  # nav + footer at least

    def test_entity_decode_order(self, spark):
        # literal "&amp;lt;" must render as "&lt;" text, not "<"
        row = _one(
            spark, "<p>x &amp;lt; y &amp; z &#39;q&#39; done here</p>"
        ).select(_main_text(F.col("h"), min_chars=1).alias("mt")).head()
        assert row.mt == "x &lt; y & z 'q' done here"

    def test_numeric_entities_decode(self, spark):
        # decimal, hex (incl. supplementary plane), the HTML
        # double-escape rule, and invalid scalar values -> ''
        row = _one(
            spark,
            "<p>A&#x41; dash&#8212;here &#x1F600; "
            "literal &amp;#65; bad&#xD800;&#0;&#1114112;end</p>"
        ).select(_main_text(F.col("h"), min_chars=1).alias("mt")).head()
        assert row.mt == ("AA dash—here \U0001F600 "
                          "literal &#65; badend")

    def test_numeric_amp_never_double_decodes(self, spark):
        # '&#38;lt;' is the NUMERIC double-escape form: the decoded
        # '&' must not recombine with 'lt;' into a second decode
        # (the one-pass tokenizer rule; a numeric-then-named chain
        # gets this wrong)
        row = _one(
            spark, "<p>q &#38;lt; r &#38;amp; s &#38;#65; end</p>"
        ).select(_main_text(F.col("h"), min_chars=1).alias("mt")).head()
        assert row.mt == "q &lt; r &amp; s &#65; end"

    def test_legacy_and_w1252_forms(self, spark):
        # WHATWG coverage landed in r11: bare legacy names, the
        # longest-legacy-prefix fallback (full ';' names still win),
        # windows-1252 numeric remap, bare numerics
        cases = {
            "&amp x": "& x",            # bare legacy
            "&copy 1999": "© 1999",
            "&GT": ">",
            "&ampfoo;": "&foo;",         # prefix fallback, ';' kept
            "&notareal; kept": "¬areal; kept",
            "&notin;": "∉",              # full name beats prefix
            "&Corp stays": "&Corp stays",  # no legacy prefix
            "&#147;q&#148;": "“q”",      # w1252 remap
            "&#x99;": "™",
            "&#38 bare": "& bare",       # bare numeric
            "&#38;lt;": "&lt;",          # double-escape unchanged
        }
        from hummingbird_spark.functions.html import decode_entities

        df = spark.createDataFrame([Row(s=c) for c in cases])
        got = [r.d for r in
               df.select(decode_entities(F.col("s")).alias("d"))
               .collect()]
        assert got == list(cases.values())

    def test_named_entities_match_stdlib_unescape(self, spark):
        # differential vs html.unescape over the most common WHATWG
        # names + numeric forms: for semicolon-form references our
        # semantics equal the stdlib's one-pass decoder (invalid
        # scalars excepted — we yield '', it yields U+FFFD)
        import html as _html

        names = [
            "amp", "lt", "gt", "quot", "apos", "nbsp", "copy", "reg",
            "trade", "deg", "plusmn", "para", "sect", "middot",
            "laquo", "raquo", "ndash", "mdash", "lsquo", "rsquo",
            "ldquo", "rdquo", "bdquo", "dagger", "Dagger", "bull",
            "hellip", "permil", "prime", "Prime", "lsaquo", "rsaquo",
            "euro", "cent", "pound", "curren", "yen", "brvbar",
            "uml", "ordf", "ordm", "not", "shy", "macr", "sup1",
            "sup2", "sup3", "frac14", "frac12", "frac34", "iquest",
            "iexcl", "times", "divide", "fnof", "circ", "tilde",
            "ensp", "emsp", "thinsp", "zwnj", "zwj", "lrm", "rlm",
            "oline", "frasl", "OElig", "oelig", "Scaron", "scaron",
            "Yuml", "Agrave", "Aacute", "Acirc", "Atilde", "Auml",
            "Aring", "AElig", "Ccedil", "Egrave", "Eacute", "Ecirc",
            "Euml", "Igrave", "Iacute", "Icirc", "Iuml", "ETH",
            "Ntilde", "Ograve", "Oacute", "Ocirc", "Otilde", "Ouml",
            "Oslash", "Ugrave", "Uacute", "Ucirc", "Uuml", "Yacute",
            "THORN", "szlig", "agrave", "aacute", "acirc", "atilde",
            "auml", "aring", "aelig", "ccedil", "egrave", "eacute",
            "ecirc", "euml", "igrave", "iacute", "icirc", "iuml",
            "eth", "ntilde", "ograve", "oacute", "ocirc", "otilde",
            "ouml", "oslash", "ugrave", "uacute", "ucirc", "uuml",
            "yacute", "thorn", "yuml", "alpha", "beta", "gamma",
            "delta", "epsilon", "pi", "sigma", "omega", "Omega",
            "mu", "lambda", "phi", "psi", "theta", "infin", "ne",
            "le", "ge", "minus", "radic", "sum", "prod", "int",
            "asymp", "equiv", "sub", "sup", "isin", "notin", "cap",
            "cup", "and", "or", "forall", "exist", "nabla", "part",
            "larr", "uarr", "rarr", "darr", "harr", "lArr", "rArr",
            "hArr", "loz", "spades", "clubs", "hearts", "diams",
            "AMP", "LT", "GT", "QUOT", "COPY", "REG",
        ]
        cases = ["w &%s; z" % n for n in names]
        cases += ["&amp;%s;" % n for n in ("lt", "gt", "amp", "copy")]
        cases += ["&#38;lt;", "&#38;amp;", "&#x26;gt;",
                  "&unknownname; kept", "&amp;#65;", "&#169;&#xA9;"]
        from hummingbird_spark.functions.html import decode_entities

        df = spark.createDataFrame([Row(s=c) for c in cases])
        got = [r.d for r in
               df.select(decode_entities(F.col("s")).alias("d"))
               .collect()]
        want = [_html.unescape(c) for c in cases]
        assert got == want

    def test_decode_differential_random_reference_soup(self, spark):
        """Seeded-random differential vs html.unescape: ~300 strings
        interleaving plain text with well-formed known/unknown named
        refs (semicolon AND bare-legacy forms, plus unknown names
        whose PREFIX is a legacy name — '&notareal;' decodes as
        '&not' + 'areal;'), numeric refs (dec/hex, with and without
        ';', including the windows-1252 remap range 0x80-0x9F), and
        the double-escape forms. Generation excludes only the
        remaining documented divergences (cp 0/surrogates/>10FFFF
        yield '' not U+FFFD; control/noncharacter cps pass raw where
        unescape drops them; digit runs past the tokenizer length
        bound)."""
        import html as _html
        import random

        from hummingbird_spark.functions.html import (
            LEGACY_ENTITIES,
            NAMED_ENTITIES,
            decode_entities,
        )

        rng = random.Random(1009)
        # full-name '&name;' tokens always win longest-match in
        # unescape too, so every KNOWN name is safe to generate
        known = sorted(NAMED_ENTITIES)
        legacy = sorted(LEGACY_ENTITIES)
        texts = ["plain", "x y", "a#b", "semi; colon", "amp & bare",
                 "1<2", "", "tail "]

        def tok():
            r = rng.random()
            if r < 0.25:
                return "&%s;" % rng.choice(known)
            if r < 0.35:
                # bare legacy refs + legacy-PREFIX unknowns, with and
                # without the terminator
                form = rng.random()
                if form < 0.4:
                    return "&%s" % rng.choice(legacy)
                if form < 0.7:
                    return "&%s%s" % (rng.choice(legacy),
                                      rng.choice(["x", "q9", ""]))
                return "&%s;" % (rng.choice(legacy)
                                 + rng.choice(["areal", "it", "z1"]))
            if r < 0.45:
                name = rng.choice(["zzqreal", "bogusXx", "qqqq1"])
                return "&%s;" % name
            if r < 0.60:
                # no control/noncharacter cps: unescape REMOVES
                # those (0x7F etc.), we return them raw — another
                # documented divergence. 0x80-0x9F now INCLUDED
                # (windows-1252 remap).
                cp = rng.choice(
                    [9, 10, 13, 32, 65, 0xA0, 0x2019, 0x4E2D,
                     0xFFFD, 0x1F600, 0x103A0,
                     0x80, 0x82, 0x91, 0x93, 0x99, 0x9F, 0x8D])
                # bare numerics decode too — but only when the next
                # char can't extend the digit run (tok() output is
                # concatenated, so always emit a non-digit tail)
                return ("&#%d; " if rng.random() < 0.7
                        else "&#%d end ") % cp
            if r < 0.75:
                cp = rng.choice([0x41, 0x26, 0x3C, 0x2212, 0x1D538])
                return "&#x%X;" % cp if rng.random() < 0.5 \
                    else "&#x%x;" % cp
            if r < 0.85:
                return rng.choice(["&amp;lt;", "&#38;gt;",
                                   "&amp;#65;", "&#x26;amp;"])
            return rng.choice(texts)

        cases = ["".join(tok() for _ in range(rng.randint(1, 8)))
                 for _ in range(300)]
        df = spark.createDataFrame([(c,) for c in cases], "s string")
        got = [r.d for r in df.select(
            decode_entities(F.col("s")).alias("d")).collect()]
        want = [_html.unescape(c) for c in cases]
        assert got == want

    def test_empty_and_tagless_input(self, spark):
        rows = spark.createDataFrame(
            [Row(h=""), Row(h="plain text no markup at all")]
        ).select(F.size(block_structs(F.col("h"))).alias("n"),
                 _main_text(F.col("h")).alias("mt")).collect()
        assert rows[0].n == 0 and rows[0].mt == ""
        assert rows[1].n == 1
        assert rows[1].mt == "plain text no markup at all"


class TestUrlCanonical:
    def _canon(self, spark, url):
        return spark.range(1).select(
            canonical_url(F.lit(url)).alias("c")).head().c

    def test_case_port_www_tracking(self, spark):
        assert self._canon(
            spark,
            "HTTP://WWW.Ex.COM:80/a//b/?utm_source=x&b=2&a=1#frag"
        ) == "http://ex.com/a/b?a=1&b=2"

    def test_default_port_https_only_443(self, spark):
        assert self._canon(spark, "https://ex.com:443/p") == \
            "https://ex.com/p"
        assert self._canon(spark, "https://ex.com:80/p") == \
            "https://ex.com:80/p"  # non-default port kept

    def test_root_and_empty_path(self, spark):
        assert self._canon(spark, "https://ex.com") == "https://ex.com/"
        assert self._canon(spark, "https://ex.com/") == "https://ex.com/"

    def test_all_params_tracking(self, spark):
        assert self._canon(
            spark, "https://ex.com/p?utm_a=1&fbclid=2&gclid=3"
        ) == "https://ex.com/p"

    def test_registered_domain_psl_lite(self, spark):
        rows = spark.createDataFrame(
            [Row(h="news.bbc.co.uk"), Row(h="a.b.example.com"),
             Row(h="example.org"), Row(h="localhost")]
        ).select(registered_domain(F.col("h")).alias("d")).collect()
        assert [r.d for r in rows] == [
            "bbc.co.uk", "example.com", "example.org", "localhost"]

    def test_url_host_strips_port_and_www(self, spark):
        assert spark.range(1).select(
            url_host(F.lit("https://WWW.Ex.COM:8443/x")).alias("h")
        ).head().h == "ex.com"


class TestWarc:
    def _blob(self, spark, bodies):
        df = spark.createDataFrame(
            [Row(i=i, uri=f"http://ex{i}.com/p", body=b)
             for i, b in enumerate(bodies)])
        recs = df.select(
            F.struct("i", render_warc_record(
                F.col("uri"), F.col("body")).alias("r")).alias("s"))
        return recs.agg(F.concat_ws("", F.transform(
            F.array_sort(F.collect_list("s")),
            lambda s: s["r"])).alias("blob"))

    def test_parse_fields_and_length(self, spark):
        blob = self._blob(spark, ["<p>one body</p>", "<p>two</p>"])
        out = parse_warc_records(blob, "blob").orderBy("rec_idx") \
            .collect()
        assert [r.target_uri for r in out] == [
            "http://ex0.com/p", "http://ex1.com/p"]
        assert all(r.warc_type == "response" for r in out)
        assert all(r.http_status == "200" for r in out)
        assert all(r.length_ok for r in out)
        assert out[0].body == "<p>one body</p>"

    def test_truncated_record_flagged(self, spark):
        blob = self._blob(spark, ["<p>full body text</p>"])
        cut = blob.select(
            F.expr("substring(blob, 1, length(blob) - 12)").alias("blob"))
        out = parse_warc_records(cut, "blob").collect()
        assert len(out) == 1 and not out[0].length_ok

    def test_read_warc_lineSep_scale_path(self, spark, tmp_path):
        blob = self._blob(
            spark, [f"<p>body number {i} here</p>" for i in range(7)]
        ).head().blob
        p = tmp_path / "crawl.warc"
        p.write_text(blob)
        out = read_warc(spark, str(p)).orderBy("target_uri").collect()
        assert len(out) == 7
        assert all(r.length_ok and r.http_status == "200" for r in out)
        assert out[3].body == "<p>body number 3 here</p>"

    def test_warc_roundtrip_html_extraction(self, spark):
        blob = self._blob(spark, [PAGE])
        parsed = parse_warc_records(blob, "blob")
        row = parsed.select(
            _main_text(F.col("body")).alias("mt")).head()
        assert "alpha beta gamma delta words here now" in row.mt
        assert "Privacy" not in row.mt


class TestLinkExtraction:
    def test_resolution_forms(self, spark):
        from hummingbird_spark.functions.html import extract_links

        html = ('<a href="https://other.example/abs">a</a>'
                '<a href="//cdn.example/pr">b</a>'
                '<a href="/root/x">c</a>'
                '<a href="rel/y">d</a>'
                '<a href="../up/z">e</a>'
                '<a href="./same">f</a>'
                '<a href=".././mix/q">g</a>'
                '<a href="../../../../clamped">h</a>'
                '<a href="/a/./b/../c?k=1">i</a>'
                '<a href="https://abs.example/p/../q#f">j</a>'
                '<a href="..">k</a>')
        row = spark.range(1).select(
            extract_links(F.lit(html),
                          F.lit("https://Site.Example:8080/dir/page"))
            .alias("ls")).head()
        assert row.ls == [
            "https://other.example/abs",
            "https://cdn.example/pr",
            "https://site.example:8080/root/x",
            "https://site.example:8080/dir/rel/y",
            # RFC 3986 §5.2.4 dot-segment folding
            "https://site.example:8080/up/z",
            "https://site.example:8080/dir/same",
            "https://site.example:8080/mix/q",
            "https://site.example:8080/clamped",  # clamped at root
            "https://site.example:8080/a/c?k=1",
            "https://abs.example/q#f",
            "https://site.example:8080/",
        ]

    def test_no_anchors_and_quote_styles(self, spark):
        from hummingbird_spark.functions.html import extract_hrefs

        rows = spark.createDataFrame(
            [Row(h="<p>no links</p>"),
             Row(h="<a href='single.html'>s</a>"
                   '<a href="double.html">d</a>'
                   "<a href='again.html'>a</a>")]
        ).select(extract_hrefs(F.col("h")).alias("hs")).collect()
        assert rows[0].hs == []
        # both quote styles, document order preserved
        assert rows[1].hs == ["single.html", "double.html",
                              "again.html"]

    def test_unquoted_attribute_hrefs(self, spark):
        """<a href=/foo> (no quotes — legacy/minified HTML): value
        runs to the first whitespace or '>', mixes with quoted forms
        in document order, and resolves like any other reference."""
        from hummingbird_spark.functions.html import (
            extract_hrefs,
            extract_links,
        )

        html = ("<a href=/p/1>one</a>"
                '<a href="/p/2">two</a>'
                "<a href=rel/3 class=x>three</a>"
                "<a href=https://abs.example/4>four</a>"
                "<a class=y href=//cdn.example/5>five</a>"
                "<a href='/p/6'>six</a>")
        out = spark.range(1).select(
            extract_hrefs(F.lit(html)).alias("hs"),
            extract_links(F.lit(html),
                          F.lit("https://h.example/dir/p"))
            .alias("ls")).head()
        assert out.hs == ["/p/1", "/p/2", "rel/3",
                          "https://abs.example/4", "//cdn.example/5",
                          "/p/6"]
        assert out.ls == [
            "https://h.example/p/1",
            "https://h.example/p/2",
            "https://h.example/dir/rel/3",
            "https://abs.example/4",
            "https://cdn.example/5",
            "https://h.example/p/6",
        ]

    def test_opaque_scheme_hrefs_never_become_links(self, spark):
        """mailto:/javascript:/tel:/data: hrefs are absolute URIs
        with opaque payloads — un-filtered they would resolve as
        RELATIVE and pollute the link graph."""
        from hummingbird_spark.functions.html import extract_links

        html = ('<a href="mailto:x@y.example">m</a>'
                '<a href="javascript:void(0)">j</a>'
                '<a href="tel:+1555">t</a>'
                '<a href="data:text/plain,hi">d</a>'
                '<a href="real/page">r</a>'
                '<a href="https://ok.example/a">o</a>')
        row = spark.range(1).select(
            extract_links(F.lit(html),
                          F.lit("https://h.example/dir/p"))
            .alias("ls")).head()
        assert row.ls == ["https://h.example/dir/real/page",
                          "https://ok.example/a"]

    def test_base_tag_overrides_resolution_base(self, spark):
        from hummingbird_spark.functions.html import extract_links

        html = ('<head><base href="/deep/dir/"></head>'
                '<a href="rel">r</a><a href="/root">x</a>')
        row = spark.range(1).select(
            extract_links(F.lit(html), F.lit("https://h.example/a/b"),
                          honor_base_tag=True).alias("ls"),
            extract_links(F.lit(html), F.lit("https://h.example/a/b"))
            .alias("plain")).head()
        # base tag's own href resolves against the page URL first
        assert row.ls == ["https://h.example/deep/dir/rel",
                          "https://h.example/root"]
        # default path ignores the tag (documented)
        assert row.plain == ["https://h.example/a/rel",
                             "https://h.example/root"]

    def test_base_without_path(self, spark):
        from hummingbird_spark.functions.html import extract_links

        row = spark.range(1).select(
            extract_links(F.lit('<a href="p">x</a>'),
                          F.lit("https://ex.com")).alias("ls")).head()
        assert row.ls == ["https://ex.com/p"]
