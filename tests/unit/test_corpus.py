"""Unit tests for the corpus layer (dedup / similarity / text /
multimodal) and the staged canonicalizer's equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from who_focus_crawler_spark.corpus.dedup import (
    exact_dedup,
    exact_dedup_keep,
    minhash_lsh_pairs,
    simhash64_bands,
    simhash_pairs,
)
from who_focus_crawler_spark.corpus.multimodal import attach_media, decode_media
from who_focus_crawler_spark.corpus.similarity import brute_force_topk, lsh_topk
from who_focus_crawler_spark.corpus.text import predict_lang, quality_score, tokens
from who_focus_crawler_spark.functions.urls import canonicalize, canonicalize_df

MESSY_URLS = [
    "http://a.example.test/p/1",
    "HTTP://A.Example.TEST/p/1",
    "http://a.example.test:80/p/1",
    "https://a.example.test:443/x",
    "https://a.example.test:8443/x",
    "http://a.example.test/a/./b/../c",
    "http://a.example.test/p/1#frag",
    "http://a.example.test/p/1?utm_source=x&b=2&a=1",
    "http://a.example.test/%7Euser/%41%2F",
    "http://a.example.test",
    "ftp://a.example.test/x",
    "not a url",
    "http:///missing-host",
    "  http://a.example.test/ws  ",
]


def test_canonicalize_df_equals_column_form(spark):
    df = spark.createDataFrame([(u,) for u in MESSY_URLS], ["url"])
    staged = sorted(
        r.canon_url for r in canonicalize_df(df, "url").select("canon_url").collect()
    )
    column = sorted(
        r.c
        for r in df.select(canonicalize(F.col("url")).alias("c"))
        .filter(F.col("c").isNotNull())
        .collect()
    )
    assert staged == column


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    for i in range(40):
        if i % 10 == 3:  # near-duplicate of doc i-1 (one word changed)
            prev = rows[-1][1]
            rows.append((i, prev.replace("river", "creek")))
        elif i % 10 == 7:  # exact duplicate of doc 0
            rows.append((i, rows[0][1]))
        else:
            rows.append((i, f"{base} variant {i} with extra words number {i * 7}"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    clusters = exact_dedup(docs).collect()
    sizes = sorted(c.cluster_size for c in clusters)
    assert sizes == [5]  # doc 0 + the four i%10==7 copies
    assert clusters[0].keep_id == 0
    kept = exact_dedup_keep(docs)
    assert kept.count() == 40 - 4


def test_minhash_finds_near_dups(docs):
    pairs = minhash_lsh_pairs(
        docs, num_hashes=8, bands=8, shingle_k=3, jaccard_threshold=0.5
    ).collect()
    found = {(p.doc_a, p.doc_b) for p in pairs}
    # the planted near-dup pairs (i-1, i) for i%10==3 must be found
    for i in range(3, 40, 10):
        if i % 10 == 3 and i > 0:
            assert (i - 1, i) in found, (i, sorted(found))
    for p in pairs:
        assert 0.0 <= p.jaccard <= 1.0


def test_simhash_banding_complete_for_hamming3(spark, docs):
    """4 × 16-bit bands find ALL pairs at Hamming ≤ 3 (pigeonhole:
    3 flipped bits leave at least one band untouched)."""
    staged = docs.withColumn("bands", simhash64_bands(tokens(F.col("text"))))
    sigs = [
        (r.doc_id, sum(b << (16 * k) for k, b in enumerate(r.bands)))
        for r in staged.select("doc_id", "bands").collect()
    ]
    brute = set()
    for i, (ida, sa) in enumerate(sigs):
        for idb, sb in sigs[i + 1 :]:
            if bin(sa ^ sb).count("1") <= 3:
                brute.add((min(ida, idb), max(ida, idb)))
    found = {
        (p.doc_a, p.doc_b) for p in simhash_pairs(docs, max_hamming=3).collect()
    }
    assert found == brute


def test_near_dup_clusters_transitive(spark):
    """A~B, B~C (A≁C directly) must land in ONE cluster, keep = min id;
    convergence mode and the fixed-round oracle mode must agree."""
    from who_focus_crawler_spark.corpus.clusters import (
        dedup_keep,
        near_dup_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        ["doc_a", "doc_b"],
    )
    got = {
        r.doc_id: (r.cluster_id, r.keep)
        for r in near_dup_clusters(pairs).collect()
    }
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False),
        10: (10, True), 11: (10, False),
        20: (20, True), 21: (20, False), 22: (20, False), 23: (20, False),
    }
    fixed = {
        r.doc_id: (r.cluster_id, r.keep)
        for r in near_dup_clusters(pairs, n_iters=4).collect()
    }
    assert fixed == got  # 4 rounds ≥ the diameter of every test component
    # whole-corpus keep decision: isolated docs keep themselves
    docs = spark.createDataFrame([(i,) for i in range(25)], ["doc_id"])
    kept = dedup_keep(docs, pairs)
    assert kept.count() == 25
    assert kept.filter(F.col("keep")).count() == 25 - 6  # six dropped dups
    assert {r.doc_id for r in kept.filter(~F.col("keep")).collect()} == {
        2, 3, 11, 21, 22, 23
    }


def test_near_dup_clusters_on_minhash_pairs(docs):
    """End-to-end: minhash pairs → clusters. Planted (i-1, i) near-dups
    co-cluster; labels are true transitive-closure components (keep ⇔
    doc_id == cluster_id == component min)."""
    from who_focus_crawler_spark.corpus.clusters import near_dup_clusters

    pairs = minhash_lsh_pairs(
        docs, num_hashes=8, bands=8, shingle_k=3, jaccard_threshold=0.5
    )
    edge_list = [(p.doc_a, p.doc_b) for p in pairs.collect()]
    cl = {r.doc_id: r for r in near_dup_clusters(pairs).collect()}
    for i in range(3, 40, 10):
        assert cl[i].cluster_id == cl[i - 1].cluster_id
    # every edge joins same-cluster nodes, keep == (id == cluster min)
    for a, b in edge_list:
        assert cl[a].cluster_id == cl[b].cluster_id
    by_cluster: dict[int, list[int]] = {}
    for d, r in cl.items():
        by_cluster.setdefault(r.cluster_id, []).append(d)
    for cid, members in by_cluster.items():
        assert cid == min(members)
        for d in members:
            assert cl[d].keep == (d == cid)
    # python-side union-find over the same edges agrees on components
    parent = {d: d for d in cl}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edge_list:
        parent[find(a)] = find(b)
    for d, r in cl.items():
        assert r.cluster_id == min(m for m in cl if find(m) == find(d))


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    rows = []
    for i in range(60):
        # three well-separated clusters on a circle + small deterministic jitter
        angle = (i % 3) * 2.0 + (i // 3) * 0.01
        rows.append((i, [math.cos(angle), math.sin(angle), 0.1, 0.2]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )


def test_threshold_distinct_sketch(spark):
    """Deterministic KMV-family sketch: estimate within ~4/sqrt(n_sampled)
    of truth, exact determinism across partitionings, and duplicates
    never inflate the estimate."""
    from who_focus_crawler_spark.functions.sketch import distinct_estimate

    n_true = 60_000
    base = spark.range(n_true).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("key")
    )
    with_dups = base.unionAll(base.limit(20_000))  # duplicates
    got = distinct_estimate(with_dups, "key", threshold_bits=52).collect()[0]
    assert got.n_sampled > 50
    rel_err = abs(got.est_distinct - n_true) / n_true
    assert rel_err < 4 / (got.n_sampled ** 0.5), (got, rel_err)
    # determinism: different layout, identical integers
    again = distinct_estimate(
        with_dups.repartition(13), "key", threshold_bits=52
    ).collect()[0]
    assert (again.n_sampled, again.est_distinct) == (
        got.n_sampled,
        got.est_distinct,
    )


def test_redact_pii(spark):
    from who_focus_crawler_spark.corpus.text import pii_counts, redact_pii

    rows = [
        ("reach me at bob.smith+x@mail.example.org today", "<EMAIL>", 1, 0, 0),
        ("server 192.168.001.1 then 10.0.0.7", "<IP>", 0, 0, 2),
        ("call +1 555-123-4567 now", "<PHONE>", 0, 1, 0),
        ("two mails a@b.co c@d.io", "<EMAIL>", 2, 0, 0),
        ("no pii here at all", None, 0, 0, 0),
        ("version 1.2.3 is not an ip", None, 0, 0, 0),
    ]
    df = spark.createDataFrame([(r[0],) for r in rows], ["text"])
    counts = pii_counts(F.col("text"))
    got = df.select(
        "text",
        redact_pii(F.col("text")).alias("red"),
        counts["n_emails"].alias("e"),
        counts["n_phones"].alias("p"),
        counts["n_ips"].alias("i"),
    ).collect()
    by_text = {r.text: r for r in got}
    for text, marker, e, p, i in rows:
        r = by_text[text]
        assert (r.e, r.p, r.i) == (e, p, i), text
        if marker:
            assert marker in r.red and "@" not in r.red.replace("<EMAIL>", "")
        else:
            assert r.red == text


def test_top_gram_count(spark):
    from who_focus_crawler_spark.corpus.text import repetition_stats

    rows = [
        ("the cat the cat the cat sat", 3),   # "the cat" ×3 of 6 grams
        ("a b c d e", 1),                      # all grams unique
        ("x x x x", 3),                        # "x x" ×3
        ("one", 0),                            # < 2 tokens → 0 grams
    ]
    df = spark.createDataFrame([(t_,) for t_, _ in rows], ["text"])
    stats = repetition_stats(F.col("text"))
    got = {
        r.text: (r.top, r.n)
        for r in df.select(
            "text",
            stats["top_gram_count"].alias("top"),
            stats["n_grams"].alias("n"),
        ).collect()
    }
    assert got["the cat the cat the cat sat"][0] == 3
    assert got["a b c d e"] == (1, 4)
    assert got["x x x x"] == (3, 3)
    assert got["one"] == (0, 0)


def test_cosine_neardup_pairs(vectors):
    """Near-identical vectors (same cluster, tiny angular jitter) pair;
    cross-cluster vectors (cos < threshold) never do; every reported
    pair's exact cosine clears the threshold."""
    import math

    from who_focus_crawler_spark.corpus.similarity import cosine_neardup_pairs

    pairs = cosine_neardup_pairs(vectors, threshold=0.99, nplanes=4).collect()
    assert len(pairs) > 0
    rows = {r.vec_id: r.embedding for r in vectors.collect()}
    for p in pairs:
        a, b = rows[p.vec_a], rows[p.vec_b]
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        exact = dot / (na * nb)
        assert exact >= 0.99
        assert abs(exact - p.cosine_sim) < 1e-5
        assert p.vec_a % 3 == p.vec_b % 3  # same planted cluster only


def test_cosine_neardup_banding_improves_recall(vectors):
    """OR-amplification: every pair a single band finds is found with
    more bands, and all reported pairs clear the exact-cosine threshold."""
    from who_focus_crawler_spark.corpus.similarity import cosine_neardup_pairs

    one = {
        (p.vec_a, p.vec_b)
        for p in cosine_neardup_pairs(
            vectors, threshold=0.99, nplanes=6, bands=1
        ).collect()
    }
    three = {
        (p.vec_a, p.vec_b)
        for p in cosine_neardup_pairs(
            vectors, threshold=0.99, nplanes=6, bands=3
        ).collect()
    }
    assert one <= three
    assert len(three) >= len(one)


def test_brute_force_topk(vectors):
    top = brute_force_topk(vectors, query_vec_id=0, k=5).collect()
    assert len(top) == 5
    sims = [r.cosine_sim for r in top]
    assert sims == sorted(sims, reverse=True)
    # nearest neighbours of vec 0 are the same-cluster ids (i % 3 == 0)
    assert all(r.vec_id % 3 == 0 for r in top)


def test_lsh_topk_subset_of_bucket(vectors):
    approx = lsh_topk(vectors, query_vec_id=0, k=5, nplanes=4).collect()
    assert 0 < len(approx) <= 5
    exact_ids = {r.vec_id for r in brute_force_topk(vectors, 0, k=20).collect()}
    # every LSH hit is a genuinely similar vector (within exact top-20)
    assert {r.vec_id for r in approx} <= exact_ids


def test_langid_and_quality(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat is one of the animals of the house"),
            (1, "le chat et la maison et le jardin un soir"),
            (2, "der hund und das haus und ein garten"),
            (3, "el perro y los gatos y una casa"),
            (4, "zzz qqq www"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.pred for r in df.select(
            "doc_id", predict_lang(tokens(F.col("text"))).alias("pred")
        ).collect()
    }
    assert got == {0: "en", 1: "fr", 2: "de", 3: "es", 4: "und"}
    q = df.select(quality_score(F.col("text")).alias("q")).collect()
    assert all(0 <= r.q <= 1000 for r in q)


def test_multimodal_stub(spark, docs):
    media = attach_media(docs)
    assert media.columns == ["media_id", "kind", "payload", "byte_len", "meta_json"]
    frames = decode_media(media, frames_per_item=3, fake=True)
    rows = frames.collect()
    assert len(rows) == 40 * 3
    assert all(len(r.feature) == 4 for r in rows)
    # attach_media payloads are raw utf-8 blobs, not a real format — the
    # real path refuses them at execution (the error surfaces through the
    # Python worker, so match the message, not the exception class)
    with pytest.raises(Exception, match="external codecs"):
        decode_media(media, fake=False).collect()


def test_canonicalize_df_differential_fuzz(spark):
    """Staged/native canonicalizer vs the authoritative Python twin on
    adversarial URLs: dot segments (incl. beyond the native pass budget),
    empty segments, percent-escapes, odd ports/hosts/queries."""
    import random

    rng = random.Random(7)
    segs = ["a", "bb", ".", "..", "...", "p1", "x.y", "%41", "%7e", "%zz", ""]
    urls = []
    for _ in range(1500):
        n = rng.randint(0, 9)
        path = "/" + "/".join(rng.choice(segs) for _ in range(n)) if n else ""
        urls.append(
            rng.choice(["http", "https", "HTTP", "ftp"])
            + "://"
            + rng.choice(["H0.Ex.TEST", "h1.ex.test", "", "[::1]"])
            + rng.choice(["", ":80", ":443", ":8080", ":"])
            + path
            + rng.choice(["", "?b=2&a=1", "?utm_source=x&z=9", "??"])
            + rng.choice(["", "#f"])
        )
    urls += [
        "http://h.t/" + "a/" * 12 + "../" * 12 + "end",
        "http://h.t" + "/./" * 25 + "x",
        "http://h.t/" + "../" * 6 + "x",
        "http://h.t/a/./b/../c%41/%7euser/..",
    ]
    from who_focus_crawler_spark.functions.urls import canonicalize_py

    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = {
        r.url: r.canon_url
        for r in canonicalize_df(df, "url").select("url", "canon_url").collect()
    }
    for u in urls:
        assert got.get(u) == canonicalize_py(u), u


def test_ivf_topk_matches_brute_force_on_separated_clusters(vectors):
    from who_focus_crawler_spark.corpus.similarity import ivf_topk

    exact = [r.vec_id for r in brute_force_topk(vectors, 0, k=5).collect()]
    approx = [
        r.vec_id
        for r in ivf_topk(
            vectors, query_vec_id=0, k=5, n_clusters=3, nprobe=1, iters=4
        ).collect()
    ]
    # three well-separated clusters: probing the query's own cluster
    # recovers the exact neighbours
    assert approx == exact


def test_ivf_exact_fit_matches_python_reference(vectors):
    from who_focus_crawler_spark.corpus.similarity import (
        ivf_fit_centroids_exact,
        ivf_topk_exact,
    )

    qs = 10**6
    got = ivf_fit_centroids_exact(vectors, n_clusters=3, iters=2, qscale=qs)
    # plain-python twin of the integer Lloyd recurrence
    rows = sorted(
        (r.vec_id, [int(__import__("math").floor(float(x) * qs)) for x in r.embedding])
        for r in vectors.collect()
    )
    cents = [v for _, v in rows[:3]]
    for _ in range(2):
        buckets: dict = {}
        for _, v in rows:
            d = min(
                (sum((a - b) * (a - b) for a, b in zip(v, c)), i)
                for i, c in enumerate(cents)
            )[1]
            buckets.setdefault(d, []).append(v)
        cents = [
            [
                sum(v[t] for v in buckets[i]) // len(buckets[i])
                for t in range(len(c))
            ]
            if i in buckets
            else c
            for i, c in enumerate(cents)
        ]
    assert got == cents
    # probe returns k rows ordered by cosine desc
    out = ivf_topk_exact(vectors, got, query_vec_id=0, k=5, nprobe=1).collect()
    assert len(out) == 5
    sims = [r.cosine_sim for r in out]
    assert sims == sorted(sims, reverse=True)


def test_ivf_exact_fit_parallelism_invariance(vectors):
    from who_focus_crawler_spark.corpus.similarity import ivf_fit_centroids_exact

    one = ivf_fit_centroids_exact(vectors.repartition(1), n_clusters=3, iters=2)
    many = ivf_fit_centroids_exact(vectors.repartition(7), n_clusters=3, iters=2)
    assert one == many


def test_crawl_output_feeds_corpus_pipeline(spark, tmp_path):
    """End-to-end bridge: crawl the fixture web, project the interleaved
    spans into the corpus view, and run the training-data ops over it."""
    from who_focus_crawler_spark import schemas
    from who_focus_crawler_spark.corpus.interleaved import corpus_view, media_table
    from who_focus_crawler_spark.corpus.text import quality_score
    from who_focus_crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from who_focus_crawler_spark.sources.fixture_web import WebConfig

    web = WebConfig(n_hosts=4, n_pages=24, seed_hosts=(0, 1), max_batches=4)
    cat = run_crawl(
        spark,
        CrawlConfig(web=web, checkpoint_dir=str(tmp_path / "bridge"), num_buckets=4),
    )
    docs = cat.read_table(spark, "documents", schemas.DOCUMENTS_OUT)
    view = corpus_view(docs)
    rows = view.collect()
    assert len(rows) > 0
    assert all(r.n_spans > 0 for r in rows)
    # text spans made it through in order; quality scorer runs on them
    q = view.select(quality_score(F.col("text")).alias("q")).collect()
    assert all(0 <= r.q <= 1000 for r in q)
    # media occurrences exploded with offsets
    media = media_table(docs).collect()
    assert all(m.media_ref.startswith("media://") for m in media)
    # exact dedup over crawled texts: fixture pages are distinct
    assert exact_dedup(view, "text", "doc_id").count() == 0
    # ---- full training-set journey over the crawled corpus ----
    from who_focus_crawler_spark.corpus.clusters import dedup_keep
    from who_focus_crawler_spark.corpus.text import (
        predict_lang,
        redact_pii,
        repetition_stats,
        tokens,
    )

    pairs = minhash_lsh_pairs(
        view, num_hashes=8, bands=8, shingle_k=3, jaccard_threshold=0.8
    )
    kept = dedup_keep(view, pairs).filter(F.col("keep"))
    assert kept.count() > 0
    rep = repetition_stats(F.col("text"))
    final = kept.select(
        "doc_id",
        redact_pii(F.col("text")).alias("clean_text"),
        predict_lang(tokens(F.col("text"))).alias("lang"),
        quality_score(F.col("text")).alias("quality"),
        rep["top_gram_frac"].alias("rep_frac"),
    ).filter((F.col("quality") >= 200) & (F.col("rep_frac") < 0.9))
    out = final.collect()
    assert len(out) > 0
    assert all("@" not in r.clean_text or "<EMAIL>" in r.clean_text for r in out)
    assert all(r.lang in ("en", "und") for r in out)


def test_corpus_pipeline_job(spark, tmp_path):
    """jobs/corpus.py end-to-end over the testdata documents: exact dedup
    → near-dup clusters → redact → lang/quality/repetition gates → parquet."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    from corpus import run_corpus_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    out = str(tmp_path / "kept")
    stats = run_corpus_pipeline(docs, output=out)
    kept = spark.read.parquet(out)
    assert stats["n_input"] == 500
    assert 0 < stats["n_kept"] == kept.count() <= stats["n_after_exact_dedup"]
    assert set(kept.columns) == {"doc_id", "text", "quality"}
    assert kept.filter(F.col("quality") < 200).count() == 0


def test_corpus_pipeline_job_full_options(spark, tmp_path):
    """All optional stages together: dup-ngram filter, per-source
    token-budget mixture, deterministic split labeling."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    from corpus import run_corpus_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "source"
    )
    out = str(tmp_path / "kept_full")
    weights = {f"src{i}": 1.0 for i in range(20)}
    stats = run_corpus_pipeline(
        docs,
        output=out,
        max_dup_permille=900,
        mixture_weights=weights,
        token_budget=20000,
        split_weights={"train": 0.9, "val": 0.1},
    )
    kept = spark.read.parquet(out)
    assert set(kept.columns) == {"doc_id", "source", "text", "quality", "split"}
    assert 0 < stats["n_kept"] == kept.count()
    assert set(stats["n_per_split"]) <= {"train", "val"}
    assert sum(stats["n_per_split"].values()) == stats["n_kept"]
    # mixture: per-source token totals respect the per-source budget
    from who_focus_crawler_spark.corpus.mixture import source_budgets
    from who_focus_crawler_spark.corpus.text import tokens as toks

    budgets = source_budgets(weights, 20000)
    per_src = {
        r.source: r.t
        for r in kept.groupBy("source")
        .agg(F.sum(F.size(toks(F.col("text")))).alias("t"))
        .collect()
    }
    assert all(per_src[s] <= budgets[s] for s in per_src)


def test_corpus_pipeline_mixture_requires_budget_and_source(spark):
    import sys

    import pytest

    sys.path.insert(0, "/root/repo/jobs")
    from corpus import run_corpus_pipeline

    docs = spark.createDataFrame(
        [(1, "the quick fox", "s")], ["doc_id", "text", "source"]
    )
    with pytest.raises(ValueError, match="token_budget"):
        run_corpus_pipeline(docs, mixture_weights={"s": 1.0})
    with pytest.raises(ValueError, match="source"):
        run_corpus_pipeline(
            docs.drop("source"), mixture_weights={"s": 1.0}, token_budget=10
        )


def test_corpus_pipeline_incremental_merge(spark, tmp_path):
    """--merge-into: a second run upserts its survivors into the first
    run's corpus — re-processed docs update, prior docs persist."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    from corpus import run_corpus_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    first_out = str(tmp_path / "corpus_v1")
    run_corpus_pipeline(docs.filter(F.col("doc_id") < 250), output=first_out)
    merged_out = str(tmp_path / "corpus_v2")
    stats2 = run_corpus_pipeline(
        docs.filter(F.col("doc_id") >= 200),  # overlaps [200, 250)
        output=merged_out,
        merge_into=first_out,
    )
    v1 = spark.read.parquet(first_out)
    v2 = spark.read.parquet(merged_out)
    ids1 = {r.doc_id for r in v1.select("doc_id").collect()}
    ids2 = {r.doc_id for r in v2.select("doc_id").collect()}
    assert ids1 <= ids2  # nothing from the first corpus is lost
    assert stats2["n_merged_corpus"] == len(ids2)
    assert len(ids2) > len(ids1)  # the second batch contributed new docs


def test_corpus_merge_guards_and_cross_run_dedup(spark, tmp_path):
    import sys

    import pytest

    sys.path.insert(0, "/root/repo/jobs")
    from corpus import run_corpus_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    v1 = str(tmp_path / "v1")
    run_corpus_pipeline(docs.filter(F.col("doc_id") < 250), output=v1)
    # in-place maintenance is refused (overwrite would destroy the input)
    with pytest.raises(ValueError, match="NEW directory"):
        run_corpus_pipeline(docs, output=v1, merge_into=v1)
    # schema drift between runs is refused with the option named
    with pytest.raises(ValueError, match="schema mismatch"):
        run_corpus_pipeline(
            docs,
            output=str(tmp_path / "v2"),
            merge_into=v1,
            split_weights={"train": 1.0},
        )
    # a re-crawled page under a NEW doc_id must not duplicate the corpus
    kept_v1 = spark.read.parquet(v1)
    redone = kept_v1.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    ).limit(20)
    stats = run_corpus_pipeline(
        docs.filter(F.col("doc_id") < 0).unionByName(redone),  # only re-crawls
        output=str(tmp_path / "v3"),
        merge_into=v1,
    )
    v3 = spark.read.parquet(str(tmp_path / "v3"))
    assert stats["n_merged_corpus"] == kept_v1.count()  # nothing re-added
    assert v3.groupBy(F.md5("text")).count().filter(F.col("count") > 1).count() == 0


def test_decode_media_matches_fake_decode(spark):
    """decode_media's Arrow dispatch emits exactly the frames of the
    pure _fake_decode per payload (and refuses real decode of payloads
    no codec recognizes)."""
    import pytest

    from who_focus_crawler_spark.corpus.multimodal import (
        _fake_decode,
        attach_media,
        decode_media,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").limit(60)
    media = attach_media(docs)
    got = sorted(
        (r.media_id, r.frame_idx, tuple(r.feature))
        for r in decode_media(media, fake=True).collect()
    )
    want = sorted(
        (r.media_id, i, tuple(feat))
        for r in media.select("media_id", "payload").collect()
        for i, feat in enumerate(_fake_decode(bytes(r.payload), 3))
    )
    assert got == want and len(got) == 180  # 60 items x 3 frames
    # payloads that match no real codec's magic refuse real decode at
    # execution time
    with pytest.raises(Exception, match="external codecs"):
        decode_media(media).collect()


def test_minhash_incremental_equals_full_minus_old_pairs(docs):
    """Probing a new batch against the persisted index finds exactly the
    full-corpus pairs that touch a new doc — never old×old — and the
    same jaccard values."""
    from who_focus_crawler_spark.corpus.dedup import (
        minhash_index,
        minhash_lsh_pairs_incremental,
    )

    new = docs.filter(F.col("doc_id") % 4 == 1)
    old = docs.filter(F.col("doc_id") % 4 != 1)
    inc = minhash_lsh_pairs_incremental(
        minhash_index(new, num_hashes=8, shingle_k=3),
        minhash_index(old, num_hashes=8, shingle_k=3),
        bands=8,
        jaccard_threshold=0.5,
    ).collect()
    full = minhash_lsh_pairs(
        docs, num_hashes=8, bands=8, shingle_k=3, jaccard_threshold=0.5
    ).collect()
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    want = {
        (p.doc_a, p.doc_b): p.jaccard
        for p in full
        if p.doc_a in new_ids or p.doc_b in new_ids
    }
    got = {(p.doc_a, p.doc_b): p.jaccard for p in inc}
    assert got == want and want  # non-vacuous: the split must cut pairs


def test_minhash_incremental_empty_batch(spark, docs):
    from who_focus_crawler_spark.corpus.dedup import (
        minhash_index,
        minhash_lsh_pairs_incremental,
    )

    empty = minhash_index(docs.limit(0), num_hashes=8, shingle_k=3)
    out = minhash_lsh_pairs_incremental(
        empty, minhash_index(docs, num_hashes=8, shingle_k=3), bands=8
    )
    assert out.count() == 0
    assert out.columns == ["doc_a", "doc_b", "jaccard"]


def test_decontaminate_drops_overlapping_docs(spark):
    """A doc sharing a 3-gram with the benchmark is dropped; disjoint
    docs survive; the bench member itself (also in the corpus) is
    dropped. min_hits raises the bar."""
    from who_focus_crawler_spark.corpus.decontam import (
        contamination,
        decontaminate,
    )

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),        # contains bench 3-gram
            (2, "alpha beta epsilon zeta"),       # shares only a 2-gram
            (3, "one two three four"),            # disjoint
            (4, "beta gamma delta edge case"),    # same 3-gram, shifted
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "xx alpha beta gamma delta yy")], ["doc_id", "text"]
    )
    cont = {
        r.doc_id: (r.n_grams, r.n_hits)
        for r in contamination(corpus, bench, n=3).collect()
    }
    #  doc1 grams: {abg, bgd} both in bench; doc4: {bgd, gde, dec}
    assert cont[1] == (2, 2)
    assert cont[2][1] == 0
    assert cont[3][1] == 0
    assert cont[4] == (3, 1)
    kept = {r.doc_id for r in decontaminate(corpus, bench, n=3).collect()}
    assert kept == {2, 3}
    # min_hits=2: only the fully-overlapping doc goes
    kept2 = {
        r.doc_id for r in decontaminate(corpus, bench, n=3, min_hits=2).collect()
    }
    assert kept2 == {2, 3, 4}


def test_lm_gram_frequency_and_logprob(spark):
    """Bigram model counts and the smoothed log-prob scorer on a corpus
    small enough to verify by hand."""
    import math

    from who_focus_crawler_spark.corpus.lm import (
        doc_gram_frequency,
        doc_logprob,
        ngram_model,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b"),   # bigrams: ab, ba, ab
            (2, "a b c"),     # bigrams: ab, bc
            (3, "x"),         # no bigram
        ],
        ["doc_id", "text"],
    )
    model = ngram_model(docs, k=2)
    counts = {r.g: r.c for r in model.collect()}
    assert sorted(counts.values()) == [1, 1, 3]  # ab=3, ba=1, bc=1
    freq = {
        r.doc_id: (r.n_grams, r.freq_sum, r.freq_min)
        for r in doc_gram_frequency(docs, model, k=2).collect()
    }
    assert freq[1] == (3, 7, 1)   # 3+1+3
    assert freq[2] == (2, 4, 1)   # 3+1
    assert freq[3] == (0, 0, 0)
    uni = ngram_model(docs, k=1)  # a=3, b=3, c=1, x=1
    out = {
        r.doc_id: (r.n_bigrams, r.mean_logprob)
        for r in doc_logprob(docs, model, uni, vocab_size=4).collect()
    }
    # doc2: ln((3+1)/(3+4))/1 for 'a b' + ln((1+1)/(3+4)) for 'b c', /2
    want2 = (math.log(4 / 7) + math.log(2 / 7)) / 2
    assert out[2][0] == 2 and abs(out[2][1] - want2) < 1e-9
    want1 = (2 * math.log(4 / 7) + math.log(2 / 7)) / 3  # ab, ba, ab
    assert out[1][0] == 3 and abs(out[1][1] - want1) < 1e-9
    assert out[3] == (0, None)


def test_unicode_normalization(spark):
    from who_focus_crawler_spark.corpus.text import normalize_nfc, strip_accents

    rows = [
        ("d1", "Café"),       # decomposed → NFC composes (5 cp → 4)
        ("d2", "Café"),        # already composed → unchanged
        ("d3", "Ångström"),  # Å and ö decomposed
        ("d4", "plain"),
        ("d5", None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "t"]).select(
        "doc_id",
        normalize_nfc(F.col("t")).alias("nfc"),
        strip_accents(F.col("t")).alias("bare"),
        F.length(normalize_nfc(F.col("t"))).alias("n"),
    )
    got = {r.doc_id: (r.nfc, r.bare, r.n) for r in df.collect()}
    assert got["d1"] == ("Café", "Cafe", 4)
    assert got["d2"] == ("Café", "Cafe", 4)
    # canonically-equal inputs hash identically after NFC — the dedup use
    assert got["d1"][0] == got["d2"][0]
    assert got["d3"] == ("Ångström", "Angstrom", 8)
    assert got["d4"] == ("plain", "plain", 5)
    assert got["d5"] == (None, None, None)


def test_sniff_media_type(spark):
    from who_focus_crawler_spark.corpus.multimodal import (
        MAGIC_BYTES,
        attach_media_with_magic,
        sniff_media_type,
    )

    # every frozen magic resolves to its own mime; garbage and
    # too-short payloads fall through to octet-stream
    rows = [(mime, magic + b"tail") for mime, magic in MAGIC_BYTES.items()]
    rows += [("application/octet-stream", b"garbage bytes"),
             ("application/octet-stream", b"\x89P")]
    df = spark.createDataFrame(rows, ["want", "payload"]).select(
        "want", sniff_media_type(F.col("payload")).alias("got")
    )
    for r in df.collect():
        assert r.got == r.want, (r.want, r.got)

    # the synth is non-vacuous: each declared kind sniffs to a matching
    # top-level type, both container formats of each kind occur
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(60)], ["doc_id", "text"]
    )
    media = attach_media_with_magic(docs).select(
        "kind", sniff_media_type(F.col("payload")).alias("ct")
    )
    pairs = {(r.kind, r.ct) for r in media.collect()}
    assert pairs == {
        ("image", "image/png"), ("image", "image/jpeg"),
        ("audio", "audio/wav"), ("audio", "audio/ogg"),
        ("video", "video/mp4"), ("video", "video/x-matroska"),
    }


def test_corpus_pipeline_semdedup_and_dsir(spark, tmp_path):
    """The SemDeDup and DSIR stages in the runnable pipeline: semantic
    duplicates drop (docs without embeddings pass through), DSIR keeps
    the top-k most target-like docs."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    from corpus import run_corpus_pipeline

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = str(tmp_path / "kept_sem")
    base = run_corpus_pipeline(docs, output=str(tmp_path / "kept_base"))
    stats = run_corpus_pipeline(
        docs,
        output=out,
        embeddings=emb,
        semdedup_tau=0.35,  # tuned low for the synthetic random vectors
    )
    # semantic dedup can only shrink the kept set
    assert 0 < stats["n_kept"] <= base["n_kept"]

    target = docs.filter(F.col("doc_id") % 7 == 0)
    out2 = str(tmp_path / "kept_dsir")
    stats2 = run_corpus_pipeline(
        docs, output=out2, dsir_target=target, dsir_top_k=50,
        dsir_buckets=256,
    )
    kept2 = spark.read.parquet(out2)
    assert stats2["n_kept"] == kept2.count() == 50

    import pytest as _pytest

    with _pytest.raises(ValueError, match="requires embeddings"):
        run_corpus_pipeline(docs, semdedup_tau=0.9)
    with _pytest.raises(ValueError, match="requires dsir_target"):
        run_corpus_pipeline(docs, dsir_top_k=10)


def test_corpus_pipeline_c4_and_gopher(spark, tmp_path):
    """--c4 rewrites text before dedup (lorem-ipsum/brace docs drop,
    non-qualifying lines vanish); --gopher gates the survivors."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    from corpus import run_corpus_pipeline

    keep_line = (
        "the quick brown fox jumps over and over to the lazy dog of that fame."
    )
    good = "\n".join([keep_line] * 6)
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, good + "\nlorem ipsum dolor sit amet."),  # C4 doc drop
            (3, "var f = function() {\n" + good),  # brace drop
            (4, "\n".join([keep_line, "no terminal punctuation here",
                           "short one."])),  # < 3 kept lines
            (5, good + "\nthis line has no terminal punctuation at all"),
        ],
        "doc_id long, text string",
    )
    out = str(tmp_path / "kept_c4")
    stats = run_corpus_pipeline(
        docs, output=out, c4=True, gopher=True, min_quality=0
    )
    kept = spark.read.parquet(out)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # docs 2/3 dropped by C4 doc rules, 4 by min kept lines; 1 and 5
    # clean to IDENTICAL text (the bad line is filtered), so exact dedup
    # keeps only the min doc_id
    assert ids == {1}
    text = kept.collect()[0].text
    assert text == good  # rewritten to kept lines only
    assert stats["n_kept"] == 1


def test_corpus_pipeline_gopher_rejects_thin_docs(spark, tmp_path):
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    from corpus import run_corpus_pipeline

    thin = "tiny doc."  # far under the Gopher 50-word floor
    rich = " ".join(
        ["the quick brown fox jumps over and over to the lazy dog of that"]
        * 6
    )
    docs = spark.createDataFrame(
        [(1, thin), (2, rich)], "doc_id long, text string"
    )
    out = str(tmp_path / "kept_g")
    stats = run_corpus_pipeline(
        docs, output=out, gopher=True, min_quality=0
    )
    ids = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert ids == {2} and stats["n_kept"] == 1


def test_knn_join_matches_brute_force(spark):
    import math

    import pytest as _pytest

    from who_focus_crawler_spark.corpus.similarity import knn_join

    import hashlib

    def vec(tag, d=8):
        h = hashlib.md5(f"knn:{tag}".encode()).digest()
        return [((h[i % 16] + 7 * i * tag) % 256) / 255.0 - 0.5 for i in range(d)]

    corpus_rows = [(i, vec(i)) for i in range(60)]
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<float>"
    )
    queries = spark.createDataFrame(
        [(i, v) for i, v in corpus_rows[:3]],
        "query_id long, embedding array<float>",
    )

    def cos(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(x) ** 2 for x in b))
        return round(dot / max(na * nb, 1e-12), 6)

    # float32 storage: round-trip the reference vectors through float32
    import struct as _struct

    def f32(xs):
        return [_struct.unpack("f", _struct.pack("f", x))[0] for x in xs]

    want = {}
    for qid, qv in corpus_rows[:3]:
        scored = sorted(
            ((cos(f32(qv), f32(cv)), -i) for i, cv in corpus_rows),
            reverse=True,
        )
        want[qid] = [(-negid, s) for s, negid in scored[:7]]

    for parts in (1, 7):
        got = {}
        out = knn_join(queries, corpus.repartition(parts), k=7).collect()
        for r in out:
            got.setdefault(r.query_id, []).append(
                (r.rank, r.vec_id, r.cosine_sim)
            )
        for qid in want:
            rows = sorted(got[qid])
            assert [(v, s) for _, v, s in rows] == want[qid], (qid, parts)
            assert rows[0][1] == qid and rows[0][2] == 1.0  # self at rank 1

    # k beyond corpus size returns everything, still ranked
    all_rows = knn_join(queries, corpus, k=100).collect()
    assert len(all_rows) == 3 * 60

    with _pytest.raises(ValueError):
        knn_join(queries, corpus, k=0)


def test_ann_recall_single_bucket_is_perfect(spark):
    # nplanes=0 => every vector has signature 0 => the ANN side sees the
    # full corpus and recall@k must be exactly 1.0 for every query.
    import hashlib

    from who_focus_crawler_spark.corpus.similarity import ann_recall

    def vec(tag, d=8):
        h = hashlib.md5(f"rec:{tag}".encode()).digest()
        return [((h[i % 16] + 5 * i * tag) % 256) / 255.0 - 0.5 for i in range(d)]

    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(40)], "vec_id long, embedding array<float>"
    )
    rows = ann_recall(emb, n_queries=4, k=5, nplanes=0).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.n_exact == 5
        assert r.n_hit == 5
        assert r.recall == 1.0


def test_ann_recall_bounds_and_partitioning_invariance(spark):
    import hashlib

    from who_focus_crawler_spark.corpus.similarity import ann_recall

    def vec(tag, d=8):
        h = hashlib.md5(f"rec2:{tag}".encode()).digest()
        return [((h[i % 16] + 3 * i * tag) % 256) / 255.0 - 0.5 for i in range(d)]

    rows = [(i, vec(i)) for i in range(80)]
    emb1 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out1 = sorted(
        tuple(r) for r in ann_recall(emb1, n_queries=6, k=8, nplanes=4).collect()
    )
    emb2 = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(7)
    out2 = sorted(
        tuple(r) for r in ann_recall(emb2, n_queries=6, k=8, nplanes=4).collect()
    )
    assert out1 == out2
    for _, n_exact, n_hit, recall in out1:
        assert n_exact == 8
        assert 0 <= n_hit <= 8
        assert recall == round(n_hit / 8.0, 6)


def test_fairness_gini_extremes(spark):
    from who_focus_crawler_spark.operators.diagnostics import fairness_gini

    # perfectly even: 4 keys x 25 rows each -> gini == 0
    even = spark.createDataFrame(
        [(i % 4,) for i in range(100)], "k long"
    )
    r = fairness_gini(even, F.col("k")).collect()[0]
    assert r.n_keys == 4 and r.total_rows == 100
    assert r.gini == 0.0

    # heavily concentrated: one key has 97 rows, three have 1 each
    skew = spark.createDataFrame(
        [(0,)] * 97 + [(1,), (2,), (3,)], "k long"
    )
    s = fairness_gini(skew, F.col("k")).collect()[0]
    # exact: counts asc [1,1,1,97]; S1=100, S2=1+2+3+4*97=394
    # gini = (2*394 - 5*100) / (4*100) = 288/400 = 0.72
    assert s.gini == 0.72

    # partitioning invariance of the distributed rank
    s2 = fairness_gini(
        spark.createDataFrame([(0,)] * 97 + [(1,), (2,), (3,)], "k long")
        .repartition(7),
        F.col("k"),
    ).collect()[0]
    assert tuple(s2) == tuple(s)


def test_rendezvous_sharding_stability(spark):
    from who_focus_crawler_spark.operators.sharding import assign_shards

    hosts = spark.createDataFrame(
        [(f"host{i}.example.org",) for i in range(200)], "host string"
    )
    a5 = {r.host: r.shard for r in assign_shards(hosts, 5).collect()}
    a6 = {r.host: r.shard for r in assign_shards(hosts, 6).collect()}
    assert set(a5.values()) <= set(range(5))
    # minimal disruption: a host either keeps its shard or moved to the
    # NEW shard (5) — rendezvous never reshuffles between old shards
    moved = {h for h in a5 if a5[h] != a6[h]}
    assert moved, "adding a shard should claim some hosts"
    assert all(a6[h] == 5 for h in moved)
    # rough balance: every shard owns something
    assert set(a5.values()) == set(range(5))


def test_schedule_retries_states(spark):
    from who_focus_crawler_spark.operators.retry import schedule_retries

    rows = [
        # url A: failed once -> retry at batch 1 + 1
        ("a", "h1", 1, False),
        # url B: failed three times -> retry at 5 + 4
        ("b", "h1", 1, False), ("b", "h1", 2, False), ("b", "h1", 5, False),
        # url C: failed then succeeded -> done
        ("c", "h2", 1, False), ("c", "h2", 3, True),
        # url D: four failures -> gave_up
        ("d", "h2", 1, False), ("d", "h2", 2, False),
        ("d", "h2", 3, False), ("d", "h2", 9, False),
    ]
    att = spark.createDataFrame(
        rows, "canon_url string, host string, batch long, ok boolean"
    )
    out = {r.canon_url: r for r in schedule_retries(att, max_attempts=4).collect()}
    assert out["a"].state == "retry" and out["a"].next_due_batch == 2
    assert out["b"].state == "retry" and out["b"].next_due_batch == 9
    assert out["c"].state == "done" and out["c"].next_due_batch is None
    assert out["d"].state == "gave_up" and out["d"].next_due_batch is None
    # cap: 10 failures -> delay capped at 64
    many = spark.createDataFrame(
        [("e", "h3", i, False) for i in range(1, 11)],
        "canon_url string, host string, batch long, ok boolean",
    )
    e = schedule_retries(many, max_attempts=99, max_delay=64).collect()[0]
    assert e.next_due_batch == 10 + 64


def test_resize_nearest_known_values(spark):
    import pytest as _pytest

    from who_focus_crawler_spark.corpus.multimodal import resize_nearest

    # 2x2 grid [[1,2],[3,4]] row-major
    df = spark.createDataFrame([([1.0, 2.0, 3.0, 4.0],)], "px array<float>")
    # identity resize
    same = df.select(resize_nearest(F.col("px"), 2, 2, 2, 2).alias("o")).collect()[0].o
    assert same == [1.0, 2.0, 3.0, 4.0]
    # downsample to 1x1 -> top-left pixel (nearest with floor mapping)
    one = df.select(resize_nearest(F.col("px"), 2, 2, 1, 1).alias("o")).collect()[0].o
    assert one == [1.0]
    # upsample to 4x4: each source pixel replicated 2x2
    up = df.select(resize_nearest(F.col("px"), 2, 2, 4, 4).alias("o")).collect()[0].o
    assert up == [1.0, 1.0, 2.0, 2.0,
                  1.0, 1.0, 2.0, 2.0,
                  3.0, 3.0, 4.0, 4.0,
                  3.0, 3.0, 4.0, 4.0]
    with _pytest.raises(ValueError):
        resize_nearest(F.col("px"), 2, 2, 0, 1)


def test_scene_cuts_known_values(spark):
    from who_focus_crawler_spark.corpus.multimodal import scene_cuts

    rows = [
        ("m1", 0, 10), ("m1", 1, 100), ("m1", 2, 105), ("m1", 3, 11),
        ("m2", 0, 50), ("m2", 1, 55),
    ]
    out = {
        (r.media_id, r.frame_idx): (r.is_cut, r.scene_id)
        for r in scene_cuts(
            spark.createDataFrame(rows, ["media_id", "frame_idx", "f"]),
            threshold=60,
        ).collect()
    }
    # m1: 10→100 (Δ90 cut), 100→105 (no), 105→11 (Δ94 cut)
    assert out[("m1", 0)] == (False, 0)
    assert out[("m1", 1)] == (True, 1)
    assert out[("m1", 2)] == (False, 1)
    assert out[("m1", 3)] == (True, 2)
    # m2: never cuts; first frame never a cut even at threshold 0
    assert out[("m2", 0)] == (False, 0)
    assert out[("m2", 1)] == (False, 0)


def test_corpus_pipeline_remove_dup_runs_stage(spark, tmp_path):
    """--remove-dup-runs rewrites surviving text: the shared boilerplate
    run disappears from every kept doc while unique prose survives."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    from corpus import run_corpus_pipeline

    boiler = "subscribe to our newsletter for updates today"
    # per-doc-unique content words separated by SINGLE shared stopwords:
    # shared runs stay < n, so no body trigram is ever cross-doc dup
    rows = [
        (
            i,
            f"alpha{i} the bravo{i} and charlie{i} with delta{i} "
            f"from echo{i} that fox{i} was golf{i} {boiler}",
        )
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = str(tmp_path / "kept")
    stats = run_corpus_pipeline(
        docs, output=out, remove_dup_runs_n=3, min_quality=0
    )
    kept = spark.read.parquet(out)
    assert stats["n_kept"] == kept.count() > 0
    texts = [r.text for r in kept.collect()]
    assert all(boiler not in t for t in texts)
    assert all("the bravo" in t for t in texts)


def test_harvest_rate_known_curve(spark):
    from who_focus_crawler_spark.operators.diagnostics import harvest_rate

    rows = (
        [(0, 1)] * 3 + [(0, 0)] * 1  # batch 0: 3/4 relevant
        + [(1, 0)] * 4               # batch 1: 0/4
        + [(2, 1)] * 2               # batch 2: 2/2
    )
    out = {
        r.batch: (
            r.n_fetched, r.n_relevant, r.cum_fetched, r.cum_relevant,
            r.harvest_permille, r.cum_harvest_permille,
        )
        for r in harvest_rate(
            spark.createDataFrame(rows, ["batch", "relevant"])
        ).collect()
    }
    assert out[0] == (4, 3, 4, 3, 750, 750)
    assert out[1] == (4, 0, 8, 3, 0, 375)
    assert out[2] == (2, 2, 10, 5, 1000, 500)


def test_matryoshka_recall_full_prefix_is_exact(spark, vectors):
    from who_focus_crawler_spark.corpus.similarity import matryoshka_recall

    # prefix = full dimensionality ⇒ identical rankings ⇒ recall 1.0
    out = matryoshka_recall(vectors, n_queries=3, k=5, prefix_dims=4).collect()
    assert len(out) == 3
    assert all(r.recall == 1.0 and r.n_hit == 5 for r in out)
    # a 1-dim prefix is a valid (if weak) ranking: recall in [0, 1]
    weak = matryoshka_recall(vectors, n_queries=3, k=5, prefix_dims=1).collect()
    assert all(0.0 <= r.recall <= 1.0 for r in weak)


def test_media_caption_pairs_nearest_text(spark):
    from pyspark.sql import Row
    from who_focus_crawler_spark.corpus.interleaved import media_caption_pairs

    def s(kind, text=None, ref=None, off=0):
        return Row(kind=kind, text=text, media_ref=ref, offset=off)

    rows = [
        Row(doc_id="d1", spans=[
            s("media", ref="m0", off=0),          # no text before
            s("text", text="intro", off=10),
            s("link", ref="l1", off=20),
            s("media", ref="m1", off=30),
            s("text", text="outro", off=40),
            s("media", ref="m2", off=50),         # no text after
        ]),
        Row(doc_id="d2", spans=[s("text", text="only", off=0)]),
    ]
    out = {
        r.media_ref: (r.offset, r.caption_before, r.caption_after)
        for r in media_caption_pairs(spark.createDataFrame(rows)).collect()
    }
    assert out == {
        "m0": (0, None, "intro"),
        "m1": (30, "intro", "outro"),
        "m2": (50, "outro", None),
    }


def test_corpus_pipeline_dedup_lines_stage(spark, tmp_path):
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    from corpus import run_corpus_pipeline

    rows = [
        (
            i,
            f"the story {i} is about a thing of kind {i * 3} that is good\n"
            f"all rights reserved\n"
            f"more unique prose {i} follows in the body of the page\n"
            f"all rights reserved",
        )
        for i in range(12)
    ]
    out = str(tmp_path / "kept")
    stats = run_corpus_pipeline(
        spark.createDataFrame(rows, ["doc_id", "text"]),
        output=out,
        dedup_lines_flag=True,
        min_quality=0,
    )
    kept = spark.read.parquet(out)
    assert stats["n_kept"] == kept.count() > 0
    for r in kept.collect():
        # the repeated footer survives exactly once per doc
        assert r.text.count("all rights reserved") == 1


def test_char_entropy_known_values(spark):
    import math

    from who_focus_crawler_spark.corpus.text import char_entropy_milli

    rows = [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, ""), (5, "ab" * 50)]
    out = {
        r.doc_id: r.e
        for r in spark.createDataFrame(rows, ["doc_id", "text"])
        .select("doc_id", char_entropy_milli(F.col("text")).alias("e"))
        .collect()
    }
    assert out[1] == 0          # degenerate: one symbol
    assert out[2] == 1000       # two equiprobable symbols = 1 bit
    assert out[3] == 2000       # four equiprobable = 2 bits
    assert out[4] == 0          # empty
    assert out[5] == 1000       # length-invariant for the same distribution
    # english-ish prose sits strictly between the degenerate tails
    prose = "the quick brown fox jumps over the lazy dog"
    e = (
        spark.createDataFrame([(1, prose)], ["doc_id", "text"])
        .select(char_entropy_milli(F.col("text")).alias("e"))
        .first()
        .e
    )
    counts: dict = {}
    for c in prose:
        counts[c] = counts.get(c, 0) + 1
    n = len(prose)
    want = -sum((k / n) * math.log2(k / n) for k in counts.values())
    assert e == math.floor(want * 1000)


def test_readability_known_values(spark):
    from who_focus_crawler_spark.corpus.text import readability_stats

    rows = [
        ("simple", "The cat sat. The dog ran."),
        ("dense", "Incomprehensibility characterizes bureaucratization."),
        ("empty", ""),
        ("nopunct", "three little words"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    st = readability_stats(F.col("text"))
    got = {
        r.doc_id: (r.w, r.s, r.y, r.fre)
        for r in df.select(
            "doc_id",
            st["n_words"].alias("w"),
            st["n_sentences"].alias("s"),
            st["n_syllables"].alias("y"),
            st["fre_milli"].alias("fre"),
        ).collect()
    }

    def ref(text):
        import re

        w = len(re.findall(r"[a-z0-9]+", text.lower()))
        s = max(len(re.findall(r"[.!?]+", text)), 1)
        y = len(re.findall(r"[aeiouy]+", text.lower()))
        fre = 206835 - (1015 * w) // s - (84600 * y) // w if w else None
        return (w, s, y, fre)

    for doc_id, text in rows:
        assert got[doc_id] == ref(text), doc_id
    # monosyllabic short sentences read easier than polysyllabic prose
    assert got["simple"][3] > got["dense"][3]
    assert got["empty"][3] is None


def test_topic_tagging_argmax_and_ties(spark):
    from who_focus_crawler_spark.corpus.text import predict_topic, tokens

    rows = [
        ("h", "the vaccine protects the patient from the virus"),
        ("d", "join the table on the hash column"),
        ("w", "crawl the page and parse the url link"),
        ("none", "completely unrelated prose about gardens"),
        # tie: one health term, one web term → alphabetically-first
        # topic among maxima... health < web
        ("tie", "the vaccine url"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r.topic
        for r in df.select(
            "doc_id", predict_topic(tokens(F.col("text"))).alias("topic")
        ).collect()
    }
    assert got == {
        "h": "health", "d": "data", "w": "web", "none": "other",
        "tie": "health",
    }


def test_corpus_pipeline_unescape_stage(spark, tmp_path):
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    from corpus import run_corpus_pipeline

    rows = [
        (
            i,
            f"the story {i} tells of a thing &amp; another of kind {i * 3} "
            f"that is good &lt;em&gt;indeed&lt;/em&gt; and the body "
            f"continues with unique prose {i} to pass the gates &#33;",
        )
        for i in range(12)
    ]
    out = str(tmp_path / "kept")
    stats = run_corpus_pipeline(
        spark.createDataFrame(rows, ["doc_id", "text"]),
        output=out,
        unescape=True,
        min_quality=0,
    )
    kept = spark.read.parquet(out)
    assert stats["n_kept"] == kept.count() > 0
    for r in kept.collect():
        assert "&amp;" not in r.text and "&lt;" not in r.text
        assert " & another" in r.text and "<em>indeed</em>" in r.text
        assert r.text.endswith("!")


def test_corpus_pipeline_dedup_lines_global_stage(spark, tmp_path):
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    from corpus import run_corpus_pipeline

    banner = "subscribe to our newsletter for the latest updates today"
    rows = [
        (
            i,
            f"{banner}\n"
            f"the story {i} is about a thing of kind {i * 3} that is good\n"
            f"more unique prose {i} follows in the body of the page",
        )
        for i in range(12)
    ]
    out = str(tmp_path / "kept")
    stats = run_corpus_pipeline(
        spark.createDataFrame(rows, ["doc_id", "text"]),
        output=out,
        dedup_lines_global_flag=True,
        min_quality=0,
    )
    kept = spark.read.parquet(out)
    assert stats["n_kept"] == kept.count() > 0
    texts = [r.text for r in kept.collect()]
    # the banner survives in at most one kept document corpus-wide
    assert sum(1 for t in texts if banner in t) <= 1
    assert all("unique prose" in t for t in texts)


def test_luhn_card_redaction(spark):
    """corpus/text.py card PII: only Luhn-valid 13-19 digit spans redact;
    lookalikes (bad checksum, too short, phones) survive."""
    from who_focus_crawler_spark.corpus.text import card_candidates, redact_cards

    cases = [
        ("pay with 4111 1111 1111 1111 now", "pay with <CARD> now"),
        ("pay with 4111-1111-1111-1112 now", "pay with 4111-1111-1111-1112 now"),
        ("visa 4532015112830366 works", "visa <CARD> works"),
        ("amex 378282246310005 ok", "amex <CARD> ok"),
        ("order 1234567890123 is not a card", "order 1234567890123 is not a card"),
        ("call +1-202-555-0143 (not a card)", "call +1-202-555-0143 (not a card)"),
        ("both 4111111111111111 and 5500005555555559 go", "both <CARD> and <CARD> go"),
        ("no digits at all", "no digits at all"),
    ]
    df = spark.createDataFrame(cases, "t string, want string")
    for r in df.select("want", redact_cards(F.col("t")).alias("got")).collect():
        assert r.got == r.want, (r.got, r.want)
    # audit view agrees with a Python Luhn reference
    def luhn(d):
        s = 0
        for i, ch in enumerate(reversed(d)):
            x = int(ch)
            s += x * 2 - 9 if i % 2 == 1 and x * 2 > 9 else x * 2 if i % 2 == 1 else x
        return 13 <= len(d) <= 19 and s % 10 == 0
    rows = df.select(card_candidates(F.col("t")).alias("c")).collect()
    for r in rows:
        for s in r.c:
            assert s.valid == luhn(s.digits), s


def test_predict_script_known_samples(spark):
    from who_focus_crawler_spark.corpus.text import predict_script

    cases = [
        ("hello world", "latin"),
        ("привет мир", "cyrillic"),
        ("γειά σου κόσμε", "greek"),
        ("مرحبا بالعالم", "arabic"),
        ("नमस्ते दुनिया", "devanagari"),
        ("こんにちは世界", "cjk"),
        ("中文网页内容", "cjk"),
        ("안녕하세요 세계", "hangul"),
        ("1234 !!", "und"),
        ("", "und"),
        ("mixed привет text here", "latin"),  # latin majority wins
    ]
    df = spark.createDataFrame(cases, "t string, want string")
    for r in df.select("want", predict_script(F.col("t")).alias("got")).collect():
        assert r.got == r.want, (r.got, r.want)


def test_corpus_pipeline_keep_best_stage(spark, tmp_path):
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    from corpus import run_corpus_pipeline

    # doc 1 is a punctuation-junked copy of doc 2: the token stream (and
    # therefore the shingle set -> Jaccard 1.0, guaranteed pair) is
    # identical, but the punctuation-density term drops its quality, so
    # keep-best must prefer doc 2 where the min-id rule would keep doc 1
    body = (
        "the archive of stories tells of a thing and another thing that is "
        "good and the body continues with long readable prose about the "
        "topic of the day in the town by the sea"
    )
    rows = [(1, body + " " + "!;.,:" * 12), (2, body)] + [
        (
            10 + i,
            f"completely unrelated document {i} about the topic of kind "
            f"{i * 7} that is good and continues with unique prose {i} to "
            f"pass the quality gates of the pipeline",
        )
        for i in range(4)
    ]
    out = str(tmp_path / "kept")
    stats = run_corpus_pipeline(
        spark.createDataFrame(rows, ["doc_id", "text"]),
        output=out,
        minhash_threshold=0.8,
        min_quality=0,
        keep_best=True,
    )
    kept_ids = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert stats["n_kept"] == len(kept_ids)
    assert 2 in kept_ids and 1 not in kept_ids
