"""Hypothesis property tests for the pure-Python cores (no Spark session:
these run in milliseconds and shake edge cases the fixed vectors miss)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from who_focus_crawler_spark.functions.urls import canonicalize_py

url_chars = st.text(
    alphabet="abcXY019-._~%/?&=#:." , min_size=0, max_size=40
)


@given(
    scheme=st.sampled_from(["http", "https", "HTTP", "ftp", ""]),
    host=st.sampled_from(["h.test", "H.Test", "[::1]", "", "a-b.c"]),
    port=st.sampled_from(["", ":80", ":443", ":8080", ":", ":0x"]),
    rest=url_chars,
)
@settings(max_examples=500, deadline=None)
def test_canonicalize_py_idempotent(scheme, host, port, rest):
    u = f"{scheme}://{host}{port}/{rest}" if scheme else rest
    c = canonicalize_py(u)
    if c is not None:
        assert canonicalize_py(c) == c, (u, c)


# relative-reference grammar without scheme-ful refs (where we are
# intentionally stricter than urllib's legacy same-scheme merge) and
# without the bare-"?" ref (RFC 3986 §5.3 says a present-but-empty ref
# query REPLACES the base query; urllib keeps the base query there)
_seg = st.text(alphabet="abz09._~-", min_size=0, max_size=6)
_ref = st.one_of(
    st.just(""),
    st.builds(lambda s: "#" + s, _seg),
    st.builds(lambda s: "?" + s, _seg.filter(bool)),
    # non-empty path segments only: '//' inside a relative path is another
    # urllib-vs-RFC divergence corner (urllib collapses empty segments,
    # RFC remove_dot_segments preserves them — we follow RFC)
    st.builds(lambda parts: "/".join(parts),
              st.lists(st.one_of(_seg.filter(bool), st.just("."), st.just("..")),
                       min_size=1, max_size=5)),
    st.builds(lambda parts: "/" + "/".join(parts),
              st.lists(_seg.filter(bool), min_size=0, max_size=4)),
    st.builds(lambda h, p: f"//{h}/{p}",
              st.sampled_from(["x.test", "y.test"]), _seg),
)


@given(
    base_segs=st.lists(_seg.filter(bool), min_size=0, max_size=4),
    query=st.sampled_from(["", "?k=1", "?b=2&a=1"]),
    href=_ref,
)
@settings(max_examples=500, deadline=None)
def test_resolve_py_matches_urljoin(base_segs, query, href):
    """resolve_py ∘ canonicalize_py ≡ urljoin ∘ canonicalize_py over the
    crawler-relevant reference grammar (RFC 3986 §5)."""
    from urllib.parse import urljoin

    from who_focus_crawler_spark.functions.urls import resolve_py

    base = "http://h.test/" + "/".join(base_segs) + query
    base = canonicalize_py(base)
    assert base is not None
    ours = canonicalize_py(resolve_py(base, href))
    theirs = canonicalize_py(urljoin(base, href))
    assert ours == theirs, (base, href, ours, theirs)


# ---------------------------------------------------------------- sampling


@given(
    ws=st.lists(
        st.floats(min_value=0.01, max_value=100, allow_nan=False),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=300, deadline=None)
def test_split_threshold_ranges_partition_bucket_space(ws):
    """The cumulative thresholds split_assign derives are monotone and
    end exactly at SAMPLE_BUCKETS, so the half-open ranges are pairwise
    disjoint and exhaustive for every weights dict."""
    from who_focus_crawler_spark.corpus.sampling import (
        SAMPLE_BUCKETS,
        fraction_threshold,
    )

    total = sum(ws)
    acc, last = 0.0, 0
    for w in ws[:-1]:
        acc += w / total
        thr = fraction_threshold(acc)
        assert 0 <= last <= thr <= SAMPLE_BUCKETS
        last = thr
    assert fraction_threshold(1.0) == SAMPLE_BUCKETS


@given(
    ws=st.dictionaries(
        st.text(alphabet="abcxyz", min_size=1, max_size=4),
        st.floats(min_value=0.01, max_value=50, allow_nan=False),
        min_size=1,
        max_size=6,
    ),
    budget=st.integers(min_value=0, max_value=10**12),
)
@settings(max_examples=300, deadline=None)
def test_source_budgets_never_exceed_total(ws, budget):
    from who_focus_crawler_spark.corpus.mixture import source_budgets

    b = source_budgets(ws, budget)
    assert set(b) == set(ws)
    assert all(v >= 0 for v in b.values())
    assert sum(b.values()) <= budget


# ------------------------------------------------------------------ robots


_rule_pat = st.text(alphabet="/abp*0.$", min_size=0, max_size=10)
_path_st = st.text(alphabet="/abp0.x", min_size=0, max_size=14)


@given(
    rules=st.lists(
        st.tuples(st.booleans(), _rule_pat), min_size=0, max_size=5
    ),
    paths=st.lists(_path_st, min_size=1, max_size=6),
)
@settings(max_examples=400, deadline=None)
def test_robots_vectorized_matches_sequential_twin(rules, paths):
    """The Arrow-batched matcher (operators/robots.py::_robots_match
    core) agrees with the golden crawler's sequential robots_allowed on
    arbitrary rule sets — wildcards, anchors, ties, empty patterns."""
    import json

    import pandas as pd

    from who_focus_crawler_spark.operators.robots import _robots_match
    from who_focus_crawler_spark.sources.fixture_web import robots_allowed

    rj = json.dumps([[a, p] for a, p in rules])
    got = _robots_match.func(
        pd.Series([rj] * len(paths)), pd.Series(paths)
    ).tolist()
    want = [robots_allowed(rules, p) for p in paths]
    assert got == want, (rules, paths)
