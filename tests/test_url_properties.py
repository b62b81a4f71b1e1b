"""Property-based tests for URL canonicalization and reference
resolution (functions/html.py): canonical_url must be IDEMPOTENT (a
canonical form is its own canonical form — the property that makes it
a dedup key) and INVARIANT to every transformation it claims to
normalize away (case, fragments, param order, tracking params, www,
default ports, duplicate/trailing slashes). Hypothesis generates
structured messy URLs; each example is a batch evaluated in one Spark
job."""

from __future__ import annotations

import random

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from hummingbird_spark.functions.html import (
    canonical_url,
    resolve_href,
    url_host,
)

_LABEL = st.from_regex(r"[a-z][a-z0-9-]{0,6}", fullmatch=True)
# '.'/'..' excluded: a CLEAN url has no dot segments by definition —
# resolve_href now folds them per RFC 3986, so they are exactly the
# segments for which absolute-is-identity must NOT hold
_SEG = st.from_regex(r"[A-Za-z0-9._~-]{1,8}", fullmatch=True) \
    .filter(lambda s: s not in (".", ".."))
_KEY = st.from_regex(r"[a-z][a-z0-9]{0,5}", fullmatch=True)

_TRACKERS = ["utm_source=x", "utm_medium=m", "fbclid=F1",
             "gclid=G1", "msclkid=M1", "ref=home"]


@st.composite
def _url_spec(draw):
    scheme = draw(st.sampled_from(["http", "https"]))
    host = ".".join(draw(st.lists(_LABEL, min_size=2, max_size=4)))
    segs = draw(st.lists(_SEG, min_size=0, max_size=4))
    params = draw(st.lists(
        st.tuples(_KEY, _SEG), min_size=0, max_size=4,
        unique_by=lambda kv: kv[0]))
    # params must survive the tracking filter to be comparable
    params = [(k, v) for k, v in params
              if not k.startswith(("utm_", "fbclid", "gclid",
                                   "msclkid", "ref"))]
    seed = draw(st.integers(0, 2**31 - 1))
    return scheme, host, segs, params, seed


def _mess(spec):
    """One randomly-messied rendering of the spec: every noise channel
    canonical_url claims to remove."""
    scheme, host, segs, params, seed = spec
    rng = random.Random(seed)
    s = "".join(c.upper() if rng.random() < 0.5 else c for c in scheme)
    h = "".join(c.upper() if rng.random() < 0.5 else c for c in host)
    if rng.random() < 0.5:
        h = "www." + h
    if rng.random() < 0.4:
        h += ":80" if scheme == "http" else ":443"
    path = ""
    for seg in segs:
        path += "/" * rng.randint(1, 3) + seg
    if rng.random() < 0.5:
        path += "/"
    q = list(params) + [
        (t.split("=")[0], t.split("=")[1])
        for t in rng.sample(_TRACKERS, rng.randint(0, 3))]
    rng.shuffle(q)
    query = "&".join(f"{k}={v}" for k, v in q)
    frag = f"#s{rng.randint(0, 9)}" if rng.random() < 0.5 else ""
    return (s + "://" + h + path + ("?" + query if query else "")
            + frag)


def _clean(spec):
    scheme, host, segs, params, _ = spec
    path = "".join("/" + s for s in segs) or "/"
    # the implementation (and its SQL oracle) sort the full "k=v"
    # strings, not (key, value) tuples — they differ when one key is
    # a prefix of another ('=' vs the longer key's next char)
    q = "&".join(sorted(f"{k}={v}" for k, v in params))
    return scheme + "://" + host + path + ("?" + q if q else "")


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_url_spec(), min_size=1, max_size=25))
def test_canonical_invariance_and_idempotence(spark, specs):
    rows = [Row(i=i, messy=_mess(sp), clean=_clean(sp))
            for i, sp in enumerate(specs)]
    out = (
        spark.createDataFrame(rows)
        .select(
            "i", "clean",
            canonical_url(F.col("messy")).alias("c1"),
            canonical_url(canonical_url(F.col("messy"))).alias("c2"),
        )
        .collect()
    )
    for r in out:
        # invariance: every messy rendering canonicalizes to the
        # clean form
        assert r.c1 == r.clean, f"row {r.i}: {r.c1} != {r.clean}"
        # idempotence: the canonical form is a fixed point
        assert r.c2 == r.c1, f"row {r.i}: {r.c2} != {r.c1}"


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_url_spec(), min_size=1, max_size=20))
def test_resolve_absolute_is_identity(spark, specs):
    rows = [Row(i=i, u=_clean(sp)) for i, sp in enumerate(specs)]
    out = (
        spark.createDataFrame(rows)
        .select("u", resolve_href(
            F.col("u"), F.lit("https://base.example/dir/p")).alias("r"))
        .collect()
    )
    for r in out:
        assert r.r == r.u


def test_canonical_url_keeps_idn_forms_distinct(spark):
    """The documented default: the Unicode and punycode spellings of one
    host are two canonical identities and two hosts."""
    rows = spark.createDataFrame([
        Row(u="https://münchen.example/p"),
        Row(u="https://xn--mnchen-3ya.example/p"),
    ]).select(canonical_url(F.col("u")).alias("c"),
              url_host(F.col("u")).alias("h")).collect()
    assert rows[0].c != rows[1].c
    assert rows[0].h != rows[1].h
