"""Crawl governance (llm/crawlgov): RFC 9309 robots model incl. the
precedence rule, sitemaps with gzip wrapping, refusals, Spark ops."""

from __future__ import annotations

import pytest

from verified_sources_spark.llm.crawlgov import (
    CrawlGovError,
    encode_robots,
    encode_sitemap,
    is_allowed,
    parse_robots,
    parse_sitemap,
    robots_rules,
    sitemap_urls,
)


def _robots():
    return parse_robots(encode_robots([
        {"agents": ["*"],
         "rules": [("disallow", "/private/"),
                   ("allow", "/private/ok.html")],
         "crawl_delay": 1.5},
        {"agents": ["googlebot", "bingbot"],
         "rules": [("disallow", "/tmp/*.pdf$"), ("disallow", "")]},
    ], sitemaps=["https://e.com/sitemap.xml"]))


def test_group_model_and_precedence():
    r = _robots()
    assert len(r["groups"]) == 2
    assert r["groups"][0]["crawl_delay"] == 1.5
    assert r["sitemaps"] == ["https://e.com/sitemap.xml"]
    # default group: longest pattern wins, allow beats disallow on tie
    assert is_allowed(r, "mybot/1.0", "/public/x")
    assert not is_allowed(r, "mybot/1.0", "/private/doc")
    assert is_allowed(r, "mybot/1.0", "/private/ok.html")
    # named group selection by agent substring; * and $ semantics
    assert not is_allowed(r, "Googlebot/2.1", "/tmp/a.pdf")
    assert is_allowed(r, "Googlebot/2.1", "/tmp/a.pdfx")  # $ anchor
    assert is_allowed(r, "Googlebot/2.1", "/private/doc")  # own group
    # empty Disallow value matches nothing (allow-all idiom)
    assert is_allowed(r, "BingBot", "/anything")


def test_precedence_ranks_by_octets_not_characters():
    """RFC 9309 §2.2.2: most-specific = longest match in OCTETS.
    Divergence case: on path /ббz, allow '/*z' is 3 chars = 3 octets
    while disallow '/бб' is 3 chars but 5 OCTETS — character ranking
    ties (allow would win the tie), octet ranking picks the disallow.
    The compliant verdict is disallow."""
    r = parse_robots(encode_robots([
        {"agents": ["*"],
         "rules": [("allow", "/*z"), ("disallow", "/бб")]},
    ]))
    assert not is_allowed(r, "bot", "/ббz")
    # equal-octet tie still goes to allow
    r2 = parse_robots(encode_robots([
        {"agents": ["*"],
         "rules": [("allow", "/*x"), ("disallow", "/б")]},
    ]))
    assert is_allowed(r2, "bot", "/бx")


def _host(base="http://h.example.com"):
    rb = encode_robots([{"agents": ["*"],
                         "rules": [("disallow", "/block/")],
                         "crawl_delay": 1.0}])
    s1 = encode_sitemap([{"loc": f"{base}/a"},
                         {"loc": f"{base}/block/b"}])
    s2 = encode_sitemap([{"loc": f"{base}/c"}], gz=True)
    s1loc, s2loc = f"{base}/s1.xml", f"{base}/s2.xml.gz"
    idx = encode_sitemap([{"loc": s1loc}, {"loc": s2loc}],
                         kind="sitemapindex")
    return rb, idx, {s1loc: s1, s2loc: s2}, base


def test_expand_host_walk_and_verdicts():
    from verified_sources_spark.llm.crawlgov import expand_host

    rb, idx, fetched, base = _host()
    rows = expand_host(rb, idx, fetched, "bot")
    assert [(r["loc"], r["depth"], r["allowed"]) for r in rows] == [
        (f"{base}/a", 1, True), (f"{base}/block/b", 1, False),
        (f"{base}/c", 1, True)]
    assert all(r["crawl_delay"] == 1.0 for r in rows)
    # flat urlset root: depth 0, no children needed
    flat = encode_sitemap([{"loc": f"{base}/x"}])
    assert expand_host(rb, flat, {}, "bot")[0]["depth"] == 0


def test_expand_host_refusals():
    """Every governance defect isolates the host by name: truncated
    gzip child, unfetched child, cycle, depth overflow."""
    from verified_sources_spark.llm.crawlgov import expand_host

    rb, idx, fetched, base = _host()
    s2loc = f"{base}/s2.xml.gz"
    bad = dict(fetched)
    bad[s2loc] = fetched[s2loc][:10]
    with pytest.raises(CrawlGovError, match="gzip"):
        expand_host(rb, idx, bad, "bot")
    missing = {k: v for k, v in fetched.items() if k != s2loc}
    with pytest.raises(CrawlGovError, match="unfetched"):
        expand_host(rb, idx, missing, "bot")
    # cycle: an index referencing itself through a child
    ia = f"{base}/ia.xml"
    root = encode_sitemap([{"loc": ia}, {"loc": ia}],
                          kind="sitemapindex")
    with pytest.raises(CrawlGovError, match="cycle"):
        expand_host(rb, root,
                    {ia: encode_sitemap([{"loc": f"{base}/x"}])},
                    "bot")
    # depth overflow: index -> index -> index
    ib = f"{base}/ib.xml"
    root2 = encode_sitemap([{"loc": ia}], kind="sitemapindex")
    with pytest.raises(CrawlGovError, match="depth"):
        expand_host(rb, root2, {
            ia: encode_sitemap([{"loc": ib}], kind="sitemapindex"),
            ib: encode_sitemap([{"loc": f"{base}/x.xml"}],
                               kind="sitemapindex"),
            f"{base}/x.xml": encode_sitemap([{"loc": f"{base}/x"}]),
        }, "bot")


def test_robots_junk_tolerance_and_refusals():
    messy = (b"# comment line\nUser-agent: *\n"
             b"random junk without colon\n"
             b"Unknown-directive: whatever\n"
             b"Disallow: /x # trailing comment\n")
    r = parse_robots(messy)
    assert r["groups"][0]["rules"] == [("disallow", "/x")]
    for bad in (b"", b"prose only\nno directives here\n",
                bytes(range(256))):
        with pytest.raises(CrawlGovError):
            parse_robots(bad)


def test_sitemap_kinds_gzip_and_refusals():
    sm = encode_sitemap(
        [{"loc": "https://e.com/a?x=1&y=2", "lastmod": "2024-03-01",
          "priority": "0.8"},
         {"loc": "https://e.com/b"}])
    out = parse_sitemap(sm)
    assert out["kind"] == "urlset"
    assert out["entries"][0]["loc"] == "https://e.com/a?x=1&y=2"
    assert out["entries"][1]["lastmod"] is None
    gz = encode_sitemap([{"loc": "https://e.com/s1.xml"}],
                        kind="sitemapindex", gz=True)
    out = parse_sitemap(gz)
    assert out["kind"] == "sitemapindex"
    for bad in (b"<html></html>", b"\x1f\x8bnot gzip",
                b"<urlset><url></url></urlset>", b"not xml"):
        with pytest.raises(CrawlGovError):
            parse_sitemap(bad)


def test_spark_operators(spark):
    r1 = encode_robots([{"agents": ["*"],
                         "rules": [("disallow", "/a")]}])
    df = spark.createDataFrame(
        [(1, bytearray(r1)), (2, bytearray(b"\x00 junk"))],
        "doc_id long, asset binary")
    rows = {r["doc_id"]: r for r in robots_rules(df).collect()}
    assert rows[1]["directive"] == "disallow" and rows[1]["pattern"] == "/a"
    assert rows[2]["decoded_ok"] is False

    sm = encode_sitemap([{"loc": "https://e.com/1"}], gz=True)
    df = spark.createDataFrame([(1, bytearray(sm))],
                               "doc_id long, asset binary")
    (r,) = sitemap_urls(df).collect()
    assert r["decoded_ok"] and r["loc"] == "https://e.com/1"


def test_frontier_audit_composition(spark):
    """The fused robots+sitemap audit: named-agent group replaces *,
    precedence verdicts per path, either payload failing isolates the
    whole host."""
    from verified_sources_spark.llm.crawlgov import frontier_audit

    robots = encode_robots([
        {"agents": ["*"],
         "rules": [("disallow", "/b/"), ("allow", "/b/open/")],
         "crawl_delay": 2.0},
        {"agents": ["enginebot"],
         "rules": [("disallow", "/paper/*.pdf$")]}])
    sm = encode_sitemap([{"loc": f"https://h.com{p}"} for p in (
        "/open/x", "/b/x", "/b/open/x", "/paper/d.pdf")])
    df = spark.createDataFrame(
        [(1, bytearray(robots), bytearray(sm)),
         (2, bytearray(b"\x00"), bytearray(sm))],
        "doc_id long, robots binary, sitemap binary")
    out = {}
    for r in frontier_audit(df, agent="enginebot/1.0").collect():
        out.setdefault(r["doc_id"], []).append(r)
    verdicts = [r["allowed"] for r in sorted(out[1],
                                             key=lambda r: r["url_idx"])]
    # enginebot's own group replaces *: /b/ paths allowed, pdf blocked
    assert verdicts == [True, True, True, False]
    assert all(r["crawl_delay"] is None for r in out[1])
    (bad,) = out[2]
    assert bad["decoded_ok"] is False
    # the * agent sees the * group
    verdicts = [r["allowed"] for r in sorted(
        frontier_audit(df.filter("doc_id = 1"),
                       agent="otherbot").collect(),
        key=lambda r: r["url_idx"])]
    assert verdicts == [True, False, True, True]


def test_crawl_corpus_never_ingests_disallowed(spark):
    """The capstone's core safety property, asserted directly: the
    disallowed page's text exists in the WARC but must never reach
    the corpus output — governance GATES ingestion, it doesn't just
    annotate it."""
    from verified_sources_spark.plans.queries import QUERIES

    rows = QUERIES["crawl_corpus_docs"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows
    texts = [r["text"] for r in rows if r["text"] is not None]
    assert texts and not any("SECRET" in t for t in texts)
    blocked = [r for r in rows if r["allowed"] is False]
    assert blocked and all(r["text"] is None for r in blocked)


def test_blocklist_verdicts(spark):
    """r15 UT1-style blocklist: apex rules catch all subdomains on
    LABEL boundaries only (the 'ample2.com' string-suffix trap
    matches nothing), the most-specific overlapping rule wins,
    matching is case-folded both sides, and unparseable URLs are
    unblocked with an empty host."""
    from pyspark.sql import functions as F

    from verified_sources_spark.llm.crawlgov import blocklist_verdicts

    urls = spark.createDataFrame(
        [(1, "https://a.b.example.com/x?y=1"),
         (2, "https://EXAMPLE.com/"),
         (3, "https://notexample.com/"),
         (4, "https://deep.sub.example.com/"),
         (5, "http://user@sub.blocked.org:8080/p"),
         (6, "not a url at all"),
         (7, "https://example.com.evil.net/")],
        "doc_id long, url string")
    blocked = spark.createDataFrame(
        [("Example.com",), ("sub.example.com",), ("BLOCKED.org",)],
        "domain string")
    out = {r["doc_id"]: r for r in
           blocklist_verdicts(urls, blocked).collect()}
    assert out[1]["blocked"] and out[1]["matched_rule"] == "example.com"
    assert out[2]["blocked"] and out[2]["host"] == "example.com"
    assert not out[3]["blocked"] and out[3]["matched_rule"] is None
    # overlapping rules: the LONGEST match wins
    assert out[4]["matched_rule"] == "sub.example.com"
    # userinfo and port stripped off the host; case-folded rule
    assert out[5]["blocked"] and out[5]["host"] == "sub.blocked.org"
    assert out[5]["matched_rule"] == "blocked.org"
    assert out[6]["host"] == "" and not out[6]["blocked"]
    # suffix trap: example.com.evil.net is NOT under example.com
    assert not out[7]["blocked"]


def test_blocklist_fqdn_and_blank_rule_hardening(spark):
    """r15 review finds pinned: a trailing-dot FQDN must NOT evade
    the rules (DNS resolves 'blocked.org.' identically), and a blank
    blocklist line must not become a rule that matches empty-host
    unparseable URLs."""
    from verified_sources_spark.llm.crawlgov import blocklist_verdicts

    urls = spark.createDataFrame(
        [(1, "https://blocked.org./p"),
         (2, "https://sub.blocked.org./p"),
         (3, "unparseable")],
        "doc_id long, url string")
    blocked = spark.createDataFrame(
        [("blocked.org",), ("",), ("   ",), ("dotted.net.",)],
        "domain string")
    out = {r["doc_id"]: r for r in
           blocklist_verdicts(urls, blocked).collect()}
    assert out[1]["blocked"] and out[1]["matched_rule"] == "blocked.org"
    assert out[2]["blocked"]
    assert not out[3]["blocked"]       # blank rules dropped


def test_blocklist_ip_and_ipv6_hosts(spark):
    """IP-literal hosts (UT1 lists carry raw IPs): IPv4 matches its
    exact rule through the chain's full form; bracketed IPv6 extracts
    to the bare address (one 'label' — exact match only) and no
    longer parses as '['."""
    from verified_sources_spark.llm.crawlgov import blocklist_verdicts

    urls = spark.createDataFrame(
        [(1, "https://93.184.216.34/p"),
         (2, "https://[2001:db8::1]:8080/p"),
         (3, "https://[2001:db8::2]/p")],
        "doc_id long, url string")
    blocked = spark.createDataFrame(
        [("93.184.216.34",), ("2001:db8::1",)], "domain string")
    out = {r["doc_id"]: r for r in
           blocklist_verdicts(urls, blocked).collect()}
    assert out[1]["blocked"] and out[1]["matched_rule"] == "93.184.216.34"
    assert out[2]["blocked"] and out[2]["host"] == "2001:db8::1"
    assert not out[3]["blocked"] and out[3]["host"] == "2001:db8::2"


def test_idn_fold_host_unit():
    """r15b IDN fold: per-label ACE encoding via the stdlib's
    independent RFC 3492 implementation; ASCII labels (incl. existing
    xn-- forms) bit-identical; refused labels stay byte-literal."""
    from verified_sources_spark.llm.crawlgov import idn_fold_host

    # public IDNA pairs (authored from the mapping, not round-tripped)
    assert idn_fold_host("bücher.example") == "xn--bcher-kva.example"
    assert idn_fold_host("münchen.de") == "xn--mnchen-3ya.de"
    assert idn_fold_host("пример.испытание") == \
        "xn--e1afmkfd.xn--80akhbyknj4f"
    assert idn_fold_host("例え.テスト") == "xn--r8jz45g.xn--zckzah"
    # nameprep: sharp-s maps to 'ss' (IDNA 2003)
    assert idn_fold_host("straße.de") == "strasse.de"
    # ASCII invariance — the fold is a provable no-op
    for h in ("already.ascii.com", "xn--bcher-kva.example",
              "93.184.216.34", "2001:db8::1", "", "a..b",
              "x" * 80 + ".com"):
        assert idn_fold_host(h) == h
    # per-label fallback: one refused label cannot poison siblings
    assert idn_fold_host("ü." + "x" * 80 + ".de") == \
        "xn--tda." + "x" * 80 + ".de"
    # idempotence: folding a folded host is a no-op
    folded = idn_fold_host("mail.bücher.example")
    assert folded == "mail.xn--bcher-kva.example"
    assert idn_fold_host(folded) == folded


def test_blocklist_idn_fold(spark):
    """r15b: unicode rules block punycode hosts and vice versa; the
    nameprep form matches; the ACE-boundary trap ('bcher-kva.example'
    vs label 'xn--bcher-kva') matches nothing; most-specific wins in
    ACE space; fold_idn=False restores byte-literal matching."""
    from verified_sources_spark.llm.crawlgov import blocklist_verdicts

    urls = spark.createDataFrame(
        [(1, "https://BÜCHER.example/x"),
         (2, "https://xn--bcher-kva.example/y"),
         (3, "https://mail.münchen.de/z"),
         (4, "https://straße.de/w"),
         (5, "https://пример.bücher.example/v"),
         (6, "https://plain.ascii.org/u")],
        "doc_id long, url string")
    rules = spark.createDataFrame(
        [("bücher.example",), ("xn--mnchen-3ya.de",),
         ("strasse.de",), ("пример.bücher.example",),
         ("bcher-kva.example",)], "domain string")
    out = {r["doc_id"]: r for r in
           blocklist_verdicts(urls, rules).collect()}
    assert out[1]["host"] == "xn--bcher-kva.example"
    assert out[1]["blocked"]
    assert out[1]["matched_rule"] == "xn--bcher-kva.example"
    # ACE host caught by the unicode rule (same folded key)
    assert out[2]["blocked"]
    # unicode host caught by the ACE rule, under an ASCII subdomain
    assert out[3]["blocked"]
    assert out[3]["matched_rule"] == "xn--mnchen-3ya.de"
    # nameprep: straße.de ≡ strasse.de
    assert out[4]["blocked"] and out[4]["host"] == "strasse.de"
    # most-specific rule wins on the FOLDED lengths
    assert out[5]["matched_rule"] == \
        "xn--e1afmkfd.xn--bcher-kva.example"
    # the ACE-boundary trap fires for nobody
    assert all(r["matched_rule"] != "bcher-kva.example"
               for r in out.values())
    assert not out[6]["blocked"]
    # strict byte-literal posture on request
    strict = {r["doc_id"]: r for r in
              blocklist_verdicts(urls, rules, fold_idn=False).collect()}
    assert strict[1]["host"] == "bücher.example"
    assert strict[1]["blocked"]          # same-form match still works
    assert not strict[2]["blocked"]      # cross-form no longer matches
    assert not strict[3]["blocked"]
    assert strict[5]["matched_rule"] == "пример.bücher.example"


def test_fetch_schedule(spark):
    """r15b politeness schedule: per-host lexicographic slots,
    offset = slot × delay, NULL/negative delays fall back to the
    default, makespan = (n−1) × delay."""
    from verified_sources_spark.llm.crawlgov import fetch_schedule

    rows = [("a.com", "https://a.com/b", 2000),
            ("a.com", "https://a.com/a", 2000),
            ("a.com", "https://a.com/c", 2000),
            ("b.org", "https://b.org/x", None),
            ("b.org", "https://b.org/y", -5)]
    df = spark.createDataFrame(
        rows, "host string, url string, crawl_delay_ms long")
    out = sorted((r.host, r.url, r.delay_ms, r.position,
                  r.fetch_offset_ms, r.host_makespan_ms)
                 for r in fetch_schedule(df).collect())
    assert out == [
        ("a.com", "https://a.com/a", 2000, 0, 0, 4000),
        ("a.com", "https://a.com/b", 2000, 1, 2000, 4000),
        ("a.com", "https://a.com/c", 2000, 2, 4000, 4000),
        ("b.org", "https://b.org/x", 1000, 0, 0, 1000),
        ("b.org", "https://b.org/y", 1000, 1, 1000, 1000)]


def test_blocklist_idn_fold_is_an_arrow_udf(spark):
    """The IDN fold runs as an Arrow UDF (eval type 250, a pandas UDF is
    200): a batch mixing an IDN host, an ASCII host and a null URL folds
    the IDN host, keeps the others, and the ids beside it stay exact."""
    import re

    from verified_sources_spark.llm.crawlgov import blocklist_verdicts

    big = (1 << 62) + 1
    urls = spark.createDataFrame(
        [(big, "https://Bücher.example/x"), (None, None), (7, "https://plain.org/")],
        "doc_id long, url string").coalesce(1)
    blocked = spark.createDataFrame([("xn--bcher-kva.example",)], "domain string")
    out = blocklist_verdicts(urls, blocked)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(r"ArrowEvalPython \[.*\], 250\b", plan)
    assert sorted(((r.doc_id, r.host, r.blocked) for r in out.collect()), key=str) == sorted(
        [(big, "xn--bcher-kva.example", True), (None, None, False), (7, "plain.org", False)], key=str)
