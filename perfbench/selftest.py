"""Planted-fault self-test of the workload oracles.

For each workload, on inputs small enough to run in about a minute in
total: run one real op, check that the oracle accepts its output, then
plant wrong answers in copies of that output and check that the oracle
rejects every one. Run with ``python3 perfbench/run.py --self-test``.
"""

from __future__ import annotations

import os

from perfbench import crawl, media


def _crawl_cases(order: list[tuple], seen: set[str]) -> dict[str, tuple]:
    first = order[0]
    return {
        "crawl_order row reordered": ([(first[0] + 1,) + first[1:]] + order[1:], seen),
        "crawl_order row missing": (order[1:], seen),
        "url_seen url missing": (order, seen - {next(iter(seen))}),
    }


def _media_cases(rows: list, docs: dict) -> dict[str, list]:
    by_fmt = {}
    for i, (mid, _idx, _feat) in enumerate(rows):
        by_fmt.setdefault(docs[mid][1], i)

    def bump(i: int, delta: float) -> list:
        mid, idx, feat = rows[i]
        w, h, s, n = feat
        return rows[:i] + [(mid, idx, [w, h, s + delta, n])] + rows[i + 1:]

    gone = rows[by_fmt["gif"]][0]
    return {
        "png band sum off by one": bump(by_fmt["png"], 1),
        "jpeg band mean off by 2x tolerance": bump(
            by_fmt["jpeg420"], 2 * media.JPEG_MEAN_TOL * media.SIZE * media.SIZE),
        "gif payload not decoded": [r for r in rows if r[0] != gone],
    }


def self_test(work: str) -> int:
    from perfbench.run import start_spark, stop_spark

    crawl.N_HOSTS, crawl.N_SEED_HOSTS, crawl.BASE_PAGES = 20, 6, 600
    crawl.STREAM_HOSTS, crawl.STREAM_SEED_HOSTS, crawl.STREAM_PAGES = 20, 6, 600
    media.N_ITEMS = 20
    spark = start_spark(work)
    results: list[tuple[str, str, bool]] = []
    try:
        for cw in (crawl.CrawlBatch(spark, 7, os.path.join(work, "cb")),
                   crawl.CrawlStream(spark, 7, os.path.join(work, "cs"))):
            cw.build()
            cw.op()
            out, _ = cw.op()
            results.append((cw.name, "engine output", cw.check(out) is None))
            order, seen = crawl.read_crawl_state(spark, cw.catalog)
            for case, state in _crawl_cases(order, seen).items():
                results.append((cw.name, case, cw.check(out, state) is not None))

        md = media.MediaDecode(spark, 7, os.path.join(work, "md"))
        md.build()
        md.prepare_oracle()
        rows, _ = md.op()
        rows = [tuple(r) for r in rows]
        results.append(("media_decode", "engine output", md.check(rows) is None))
        for case, bad in _media_cases(rows, md.docs).items():
            results.append(("media_decode", case, md.check(bad) is not None))
    finally:
        stop_spark(spark)
    for wl, case, ok in results:
        verdict = "ok" if ok else "FAILED"
        expect = "accepted" if case == "engine output" else "rejected"
        print(f"self-test {wl:15s} {case:36s} {expect:8s} {verdict}")
    bad = [r for r in results if not r[2]]
    print(f"self-test: {len(results) - len(bad)}/{len(results)} checks passed")
    return 1 if bad else 0
