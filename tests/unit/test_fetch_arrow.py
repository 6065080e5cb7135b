"""fetch_and_extract (the mapInArrow fetch path) ≡ synth_spans, row by row.

Span sequences are list<struct> assembled as Arrow arrays from flat
columns. The span sequence is the engine's frozen extraction contract
(BASELINE.json input_hint), so every fetched row must carry EXACTLY the
spans of the pure function the golden crawler uses — pinned here on a
fixture slice that exercises text/media/link spans, redirects, meta
directives and mirrors.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from who_focus_crawler_spark.functions.urls import url_hash, url_host
from who_focus_crawler_spark.operators.fetch import fetch_and_extract
from who_focus_crawler_spark.sources.fixture_web import (
    WebConfig,
    page_url,
    synth_spans,
)


def _admitted(spark, web, n=400):
    urls = [
        page_url(i % web.n_hosts, i // web.n_hosts % 10) for i in range(n)
    ]
    df = spark.createDataFrame(
        [(i + 1, 1, u, 1, 0) for i, u in enumerate(urls)],
        "seq long, batch int, canon_url string, depth int, seed_id int",
    )
    return df.withColumn("url_hash", url_hash(F.col("canon_url"))).withColumn(
        "host", url_host(F.col("canon_url"))
    )


def test_fetch_spans_equal_synth_spans(spark):
    web = WebConfig(
        n_hosts=40,
        n_pages=2000,
        select_k=2000,
        politeness_k=2000,
        redirect_every=17,
        meta_robots_every=23,
        mirror_every=19,
    )
    adm = _admitted(spark, web)
    want = {r.seq: r for r in adm.collect()}
    got = fetch_and_extract(adm, web).orderBy("seq").collect()
    assert len(got) == 400
    kinds = set()
    for r in got:
        src = want[r.seq]
        assert (r.batch, r.canon_url, r.url_hash, r.host, r.depth, r.seed_id) == (
            src.batch, src.canon_url, src.url_hash, src.host, src.depth, src.seed_id
        )
        spans = [s.asDict() for s in r.spans]
        assert spans == synth_spans(r.canon_url, web), r.canon_url
        kinds.update(s["kind"] for s in spans)
    # the slice is not vacuous: redirects and meta directives occur
    assert {"redirect", "meta"} <= kinds


def test_fetch_span_struct_field_order(spark):
    web = WebConfig(n_hosts=5, n_pages=50)
    got = fetch_and_extract(_admitted(spark, web, n=10), web).collect()
    # spans carry all four struct fields in the frozen order
    s = got[0].spans[0]
    assert list(s.asDict().keys()) == ["kind", "text", "media_ref", "offset"]
