"""Property-based tests for the WARC codec and the HTML block model:
render -> parse is the identity on any payload within the documented
contract (text bodies free of the bare record gap), Content-Length
always validates, and the block counters satisfy their conservation
law on ARBITRARY input — garbage never crashes the extractor."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from hummingbird_spark.functions.html import (
    block_stats_from,
    block_structs,
    main_text_from,
)
from hummingbird_spark.sources.warc import (
    parse_warc_records,
    render_warc_record,
)

# documented contract: text payloads that do not contain the bare
# record MAGIC ("WARC/1.0\r\n"); blank lines (CRLF CRLF) are fine —
# the limit-3 parse keeps everything after the second gap as body.
# CR/LF included in the alphabet so multi-line \r\n HTML is exercised.
_BODY = st.text(
    alphabet=st.sampled_from(
        "\r\n" + "".join(chr(c) for c in range(0x20, 0x7F))),
    min_size=0, max_size=200,
).filter(lambda s: "WARC/1.0\r\n" not in s)
_URI = st.from_regex(r"http://[a-z]{1,8}\.example/[a-z0-9/]{0,12}",
                     fullmatch=True)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(_URI, _BODY), min_size=1, max_size=12))
def test_warc_render_parse_roundtrip(spark, recs):
    rows = [Row(i=i, uri=u, body=b) for i, (u, b) in enumerate(recs)]
    blob = (
        spark.createDataFrame(rows)
        .select(F.struct("i", render_warc_record(
            F.col("uri"), F.col("body")).alias("r")).alias("s"))
        .agg(F.concat_ws("", F.transform(
            F.array_sort(F.collect_list("s")),
            lambda s: s["r"])).alias("blob"))
    )
    out = parse_warc_records(blob, "blob").orderBy("rec_idx").collect()
    assert len(out) == len(rows)
    for got, (uri, body) in zip(out, recs):
        assert got.target_uri == uri
        assert got.body == body
        assert got.length_ok
        assert got.http_status == "200"
        assert got.warc_type == "response"


# arbitrary text including angle brackets, quotes, entities, newlines
_JUNK = st.text(
    alphabet=st.characters(min_codepoint=0x09, max_codepoint=0x7E),
    min_size=0, max_size=300)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_JUNK, min_size=1, max_size=20))
def test_block_counters_conserve_on_arbitrary_input(spark, texts):
    rows = [Row(i=i, h=t) for i, t in enumerate(texts)]
    out = (
        spark.createDataFrame(rows, "i long, h string")
        .select(block_structs(F.col("h")).alias("b"))
        .select(block_stats_from(F.col("b")).alias("st"),
                F.length(main_text_from(F.col("b"))).alias("mc"))
        .collect()
    )
    for r in out:
        st_ = r.st.asDict()
        assert st_["n_blocks"] == (st_["kept_blocks"]
                                   + st_["dropped_link"]
                                   + st_["dropped_short"])
        assert st_["kept_chars"] >= 0
        # main text length: kept chars plus one separator per gap
        if st_["kept_blocks"] == 0:
            assert r.mc == 0
        else:
            assert r.mc == st_["kept_chars"] + st_["kept_blocks"] - 1
