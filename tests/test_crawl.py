"""Composed crawl pipeline (operators/crawl.py): funnel semantics,
stage handoffs, and plan hygiene on a small planted WARC corpus."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def planted(spark):
    from hdk_spark.operators.warc import build_warc
    from hdk_spark.session import ensure_shipped

    ensure_shipped(spark)
    rows = []
    for i in range(40):
        url = f"https://site{i % 3}.com/p/{i % 10}" + (
            "?utm_source=x" if i % 2 == 0 else "/"
        )
        html = (
            f"<html><head><title>Doc {i}</title>"
            + ('<meta name="robots" content="noindex">' if i % 11 == 0 else "")
            + f"</head><body><p>word{i % 4} the and of common text</p>"
            "</body></html>"
        ).encode()
        status = b"HTTP/1.1 404 Not Found" if i % 13 == 0 else b"HTTP/1.1 200 OK"
        ctype = b"text/plain" if i % 17 == 0 else b"text/html"
        blob = build_warc(
            [
                {
                    "warc_type": "response",
                    "target_uri": url,
                    "payload": status + b"\r\nContent-Type: " + ctype
                    + b"\r\n\r\n" + html,
                    "content_type": "application/http;msgtype=response",
                }
            ]
        )
        rows.append((i, blob))
    warcs = spark.createDataFrame(rows, "warc_id: long, data: binary")
    robots = spark.createDataFrame(
        [
            ("site0.com", "User-agent: *\nDisallow: /p\n"),
            ("site1.com", "User-agent: *\nDisallow: /private\n"),
            ("site2.com", "User-agent: *\nDisallow: /private\n"),
        ],
        "reg_domain: string, robots_txt: string",
    )
    return warcs, robots


def test_crawl_funnel_and_gates(spark, planted):
    from hdk_spark.operators.caches import release_caches
    from hdk_spark.operators.crawl import crawl_curate, stage_counts

    warcs, robots = planted
    stages = crawl_curate(warcs, robots, langs=["en", "de"])
    assert list(stages) == [
        "http_gate", "robots_gate", "noindex_gate", "url_dedup", "final"
    ]
    counts = {
        r["stage"]: r["n_docs"] for r in stage_counts(stages).collect()
    }
    # the funnel only shrinks, in stage order
    order = ["http_gate", "robots_gate", "noindex_gate", "url_dedup"]
    for a, b in zip(order, order[1:]):
        assert counts[a] >= counts[b], counts
    assert counts["final"] == counts["url_dedup"]

    # independent gate checks against the planted arithmetic
    expected_http = {
        i for i in range(40) if i % 13 != 0 and i % 17 != 0
    }
    got_http = {
        r["doc_id"] for r in stages["http_gate"].select("doc_id").collect()
    }
    assert got_http == expected_http
    expected_robots = {i for i in expected_http if i % 3 != 0}
    got_robots = {
        r["doc_id"] for r in stages["robots_gate"].select("doc_id").collect()
    }
    assert got_robots == expected_robots
    expected_ni = {i for i in expected_robots if i % 11 != 0}
    got_ni = {
        r["doc_id"] for r in stages["noindex_gate"].select("doc_id").collect()
    }
    assert got_ni == expected_ni
    # canonical dedup: utm / trailing-slash variants of the same
    # (site, path) collapse; keep-first = smallest doc_id
    groups = {}
    for i in sorted(expected_ni):
        groups.setdefault((i % 3, i % 10), i)
    assert got_ni and set(
        r["doc_id"] for r in stages["url_dedup"].select("doc_id").collect()
    ) == set(groups.values())

    # the extraction handoff: text is title + body prose, tags gone
    row = stages["noindex_gate"].orderBy("doc_id").first()
    assert row["text"].startswith(f"Doc {row['doc_id']} word")
    assert "<" not in row["text"]

    # final schema + buckets well-formed
    final = stages["final"].collect()
    assert {r["bucket"] for r in final} <= {"head", "middle", "tail"}
    assert all(r["n_tokens"] > 0 for r in final)
    # pages, extraction, robots allow, survivors, kept ids, the kept
    # payload, final, and the unigram LM's vocabulary
    assert release_caches(stages["final"]) == 8


def test_crawl_domain_cap_stage(spark, planted):
    from hdk_spark.operators.caches import release_caches
    from hdk_spark.operators.crawl import crawl_curate

    warcs, robots = planted
    stages = crawl_curate(
        warcs, robots, langs=["en", "de"], max_per_domain=1,
    )
    assert "domain_cap" in stages
    capped = stages["domain_cap"].collect()
    # at most one survivor per registered domain, and the final stage
    # sees exactly the capped set
    from collections import Counter

    doms = Counter(r["url"].split("/")[2] for r in capped)
    assert doms and max(doms.values()) == 1
    assert {r["doc_id"] for r in stages["final"].collect()} == {
        r["doc_id"] for r in capped
    }
    assert release_caches(stages["final"]) == 10  # + capped ids, payload


def test_crawl_plan_no_cartesian(spark, planted):
    from hdk_spark.operators.caches import release_caches
    from hdk_spark.operators.crawl import crawl_curate

    warcs, robots = planted
    stages = crawl_curate(warcs, robots, langs=["en", "de"])
    df = stages["final"]
    tree = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in tree
    release_caches(df)


def test_crawl_rejects_unknown_ccnet_model(spark, planted):
    from hdk_spark.operators.crawl import crawl_curate

    warcs, robots = planted
    with pytest.raises(ValueError):
        crawl_curate(warcs, robots, ccnet_model="bogus")["final"].collect()


def test_url_seen_bloom_frontier_filter(spark):
    """Frontier dedup: canonical variants of seen pages always probe
    positive (no false negatives), unseen URLs pass at a bounded FP
    rate, the bitset length is validated, and the probe composes with
    a STREAMING candidate relation with zero state operators."""
    import json

    import pytest

    from hdk_spark import streaming
    from hdk_spark.operators.web import (
        build_url_seen_bloom,
        url_seen_probe,
    )
    from hdk_spark.session import ensure_shipped

    ensure_shipped(spark)
    corpus = spark.createDataFrame(
        [
            (i, f"https://s{i % 5}.com/p/{i}"
             + ("?utm_source=x" if i % 2 == 0 else ""))
            for i in range(0, 300, 2)
        ],
        "doc_id: long, url: string",
    )
    arr = build_url_seen_bloom(corpus)
    cands = spark.createDataFrame(
        [(i, f"HTTPS://s{i % 5}.com/p/{i}/") for i in range(300)],
        "doc_id: long, url: string",
    )
    out = {
        r["doc_id"]: r["maybe_seen"]
        for r in url_seen_probe(cands, arr).collect()
    }
    # no false negatives across scheme-case/utm/trailing-slash variants
    assert all(out[i] for i in range(0, 300, 2))
    fp = sum(out[i] for i in range(1, 300, 2))
    assert fp <= 15, f"FP rate implausibly high: {fp}/150"

    with pytest.raises(ValueError):
        url_seen_probe(cands, arr[:-1])

    # streaming candidates: map-only probe, zero state operators
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        cands.coalesce(1).write.mode("overwrite").parquet(td)
        schema = spark.read.parquet(td).schema
        st = streaming.stream_parquet(spark, td, schema)
        probed = url_seen_probe(st, arr)
        assert probed.isStreaming
        q = streaming.run_to_memory(
            probed.filter(~F.col("maybe_seen")), "t_frontier", "append"
        )
        got = {r["doc_id"] for r in spark.table("t_frontier").collect()}
        assert got == {
            i for i in range(1, 300, 2) if not out[i]
        }
        progs = [json.loads(p.json) for p in q.recentProgress]
        assert progs and all(
            p.get("stateOperators", []) == [] for p in progs
        )


def test_crawl_frontier_drop_seen_and_priorities(spark):
    from pyspark.sql import functions as F

    from hdk_spark.operators.web import build_url_seen_bloom, crawl_frontier

    hist = spark.createDataFrame(
        [(1, "http://a.com/old?utm_source=x")], "doc_id: long, url: string"
    )
    arr = build_url_seen_bloom(hist, m_bits=1 << 16)
    cands = spark.createDataFrame(
        [
            (10, "http://a.com/old/"),      # canonical-equal to history
            (11, "http://a.com/new"),        # unseen, linked domain
            (12, "http://nowhere.org/x"),    # unseen, never-linked domain
        ],
        "doc_id: long, url: string",
    )
    authority = spark.createDataFrame(
        [("a.com", 987654)], "node: string, rank_micro: long"
    )
    got = {
        r["doc_id"]: (r["reg_domain"], r["priority"])
        for r in crawl_frontier(
            cands, arr, authority, m_bits=1 << 16
        ).collect()
    }
    # the canonical variant of the seen URL is gone (no false negatives)
    assert 10 not in got
    assert got[11] == ("a.com", 987654)
    assert got[12] == ("nowhere.org", 0)  # discoverable at base priority

    kept_all = crawl_frontier(
        cands, arr, authority, m_bits=1 << 16, drop_seen=False
    )
    assert kept_all.count() == 3 and "maybe_seen" in kept_all.columns


def test_robots_directives_parsing(spark):
    from hdk_spark.operators.web import robots_directives

    rows = [
        # * group delay; bot group delay ignored; sitemaps file-scoped
        ("a.com", "User-agent: *\nCrawl-delay: 4\n"
                  "Sitemap: https://a.com/s1.xml\n"
                  "User-agent: bot\nCrawl-delay: 99\n"
                  "Sitemap: https://a.com/s2.xml\n"),
        # fractional floors; two * delays keep max; comment stripped
        ("b.com", "User-agent: *\nCrawl-delay: 2.5 # slow\n"
                  "User-agent: *\nCrawl-delay: 7\n"),
        # no directives at all
        ("c.com", "User-agent: *\nDisallow: /x\n"),
        # crawl-delay before any user-agent line: agent NULL -> ignored
        ("d.com", "Crawl-delay: 9\nUser-agent: *\nDisallow: /\n"),
    ]
    df = spark.createDataFrame(rows, "reg_domain: string, robots_txt: string")
    got = {r["domain"]: (r["crawl_delay_s"], r["sitemaps"])
           for r in robots_directives(df).collect()}
    assert got["a.com"] == (4, ["https://a.com/s1.xml", "https://a.com/s2.xml"])
    assert got["b.com"] == (7, [])
    assert got["c.com"] == (None, [])
    assert got["d.com"] == (None, [])


def test_url_seen_bloom_null_url_total(spark):
    """A NULL url in the corpus must not crash the bitset build
    (ADVICE r8): NULL canonicalizes to NULL and is dropped build-side,
    matching the probe side's NULL -> False totality."""
    from hdk_spark.operators.web import build_url_seen_bloom, url_seen_probe
    from hdk_spark.session import ensure_shipped

    ensure_shipped(spark)
    corpus = spark.createDataFrame(
        [(0, "https://a.com/x"), (1, None), (2, "https://b.com/y")],
        "doc_id: long, url: string",
    )
    arr = build_url_seen_bloom(corpus, m_bits=1 << 12)
    out = {
        r["doc_id"]: r["maybe_seen"]
        for r in url_seen_probe(corpus, arr, m_bits=1 << 12).collect()
    }
    # seen non-null urls still probe positive; NULL probes False
    assert out[0] and out[2] and not out[1]


def test_politeness_schedule_cap_property(spark):
    """No host exceeds per_host urls in any wave; high-priority urls
    land in earlier waves; determinism under repartition."""
    import pytest
    from pyspark.sql import functions as F

    from hdk_spark.operators.web import politeness_schedule

    urls = spark.createDataFrame(
        [(f"https://h{i % 3}.com/p/{i}", i % 7) for i in range(60)],
        "url: string, prio: long",
    )
    out = politeness_schedule(urls, per_host=2, priority_col="prio").collect()
    per_wave = {}
    for r in out:
        k = (r["reg_domain"], r["wave"])
        per_wave[k] = per_wave.get(k, 0) + 1
    assert max(per_wave.values()) <= 2
    # within a host, waves are ordered by descending priority
    by_host = {}
    for r in out:
        by_host.setdefault(r["reg_domain"], []).append(r)
    prios = {u["url"]: u["prio"] for u in urls.collect()}
    for rows in by_host.values():
        rows.sort(key=lambda r: r["host_rank"])
        ps = [prios[r["url"]] for r in rows]
        assert ps == sorted(ps, reverse=True) or all(
            ps[i] >= ps[i + 1] or rows[i]["url"] < rows[i + 1]["url"]
            for i in range(len(ps) - 1)
        )
    again = politeness_schedule(
        urls.repartition(7), per_host=2, priority_col="prio").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    with pytest.raises(ValueError, match="per_host"):
        politeness_schedule(urls, per_host=0)
