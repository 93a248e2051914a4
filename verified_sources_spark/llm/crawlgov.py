"""Crawl governance: robots.txt (RFC 9309) and XML sitemaps
(sitemaps.org protocol) — the URL-frontier side of a crawl pipeline.

A 100 TB crawl corpus starts from frontier decisions: which paths a
host allows, how fast to fetch, and which URLs the site itself
advertises.  The reference ingests crawled/scraped content
(sources/scraping); these two parsers make the governance artifacts
first-class rows so frontier construction, allow-rate audits and
sitemap-vs-crawl coverage joins are DataFrame ops.

- ``parse_robots``: group-based model per RFC 9309 — consecutive
  ``User-agent`` lines open ONE group sharing its rules; matching is
  longest-match with ``*`` wildcards and ``$`` end anchors;
  ``is_allowed`` implements the precedence rule (longest pattern
  wins, Allow beats Disallow on equal length).  ``Crawl-delay`` and
  ``Sitemap`` lines are carried (the de-facto extensions every
  crawler honors).
- ``parse_sitemap``: urlset AND sitemapindex documents (namespaced or
  not), loc/lastmod/changefreq/priority per entry, entity-unescaped
  locs; gzip-wrapped payloads (``sitemap.xml.gz``) decode first.

Spark ops ``robots_rules`` / ``sitemap_urls`` explode payloads with
the usual decoded_ok isolation.  Both writers are independent of the
parsers so round trips cross-check the grammar.
"""

from __future__ import annotations

import re

from verified_sources_spark.boundary import map_rows

__all__ = [
    "CrawlGovError", "parse_robots", "is_allowed", "parse_sitemap",
    "encode_robots", "encode_sitemap", "robots_rules", "sitemap_urls",
    "frontier_audit", "frontier_expand", "expand_host",
    "idn_fold_host", "fetch_schedule",
    "FRONTIER_AUDIT_SCHEMA",
    "FRONTIER_BUILD_SCHEMA",
    "ROBOTS_RULES_SCHEMA", "SITEMAP_URLS_SCHEMA",
]


class CrawlGovError(ValueError):
    """Named refusal: not a robots.txt / sitemap payload we serve."""


# ------------------------------------------------------------- robots

def parse_robots(data: bytes) -> dict:
    """robots.txt → ``{"groups": [{agents, rules, crawl_delay}],
    "sitemaps": [...]}`` — rules as (directive, pattern) in file
    order.  Unknown directives are skipped (RFC 9309 §2.2.4); bare
    junk lines too (real robots files are full of them); a payload
    with no recognizable directive at all refuses."""
    from verified_sources_spark.llm.text_fix import decode_bare_text

    dec = decode_bare_text(data)
    if dec is None:
        raise CrawlGovError("robots payload is not decodable text")
    text = dec[0]
    groups: list[dict] = []
    sitemaps: list[str] = []
    cur: dict | None = None
    last_was_agent = False
    recognized = 0
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, value = line.split(":", 1)
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            recognized += 1
            if not last_was_agent:
                cur = {"agents": [], "rules": [], "crawl_delay": None}
                groups.append(cur)
            cur["agents"].append(value.lower())
            last_was_agent = True
            continue
        last_was_agent = False
        if field == "sitemap":
            recognized += 1
            sitemaps.append(value)
            continue
        if cur is None:
            continue  # rules before any user-agent line: ignored
        if field in ("allow", "disallow"):
            recognized += 1
            cur["rules"].append((field, value))
        elif field == "crawl-delay":
            recognized += 1
            try:
                cur["crawl_delay"] = float(value)
            except ValueError:
                pass
    if recognized == 0:
        raise CrawlGovError(
            "no robots.txt directives found — not a robots file")
    return {"groups": groups, "sitemaps": sitemaps}


def _pattern_rx(pattern: str) -> re.Pattern:
    out, anchor = [], False
    body = pattern
    if body.endswith("$"):
        body, anchor = body[:-1], True
    for part in body.split("*"):
        out.append(re.escape(part))
    return re.compile("^" + ".*".join(out) + ("$" if anchor else ""))


def _group_for(robots: dict, agent: str) -> dict | None:
    agent = agent.lower()
    best, best_len = None, -1
    for g in robots["groups"]:
        for a in g["agents"]:
            if a == "*":
                if best_len < 0:
                    best, best_len = g, 0
            elif a in agent and len(a) > best_len:
                best, best_len = g, len(a)
    return best


def is_allowed(robots: dict, agent: str, path: str) -> bool:
    """RFC 9309 precedence: the group is the longest agent-substring
    match (``*`` as fallback); within it the longest matching pattern
    wins, Allow beating Disallow on ties; no match → allowed.  An
    empty Disallow value disallows nothing (the classic allow-all)."""
    g = _group_for(robots, agent)
    if g is None:
        return True
    best_len, verdict = -1, True
    for directive, pattern in g["rules"]:
        if not pattern:
            continue  # "Disallow:" (empty) matches nothing
        if _pattern_rx(pattern).match(path):
            # RFC 9309 §2.2.2: most-specific = longest in OCTETS, not
            # characters — multi-byte UTF-8 patterns must rank by
            # their encoded length or we disagree with compliant
            # crawlers on the winner.
            plen = len(pattern.encode("utf-8"))
            if plen > best_len or (plen == best_len
                                   and directive == "allow"):
                best_len, verdict = plen, directive == "allow"
    return verdict


def encode_robots(groups: list[dict],
                  sitemaps: list[str] | None = None) -> bytes:
    lines = []
    for g in groups:
        for a in g.get("agents", ["*"]):
            lines.append(f"User-agent: {a}")
        if g.get("crawl_delay") is not None:
            lines.append(f"Crawl-delay: {g['crawl_delay']:g}")
        for directive, pattern in g.get("rules", []):
            lines.append(f"{directive.capitalize()}: {pattern}")
        lines.append("")
    for s in sitemaps or ():
        lines.append(f"Sitemap: {s}")
    return ("\n".join(lines) + "\n").encode()


# ------------------------------------------------------------ sitemap

_LOC_FIELDS = ("loc", "lastmod", "changefreq", "priority")


def parse_sitemap(data: bytes, max_bytes: int = 64 << 20) -> dict:
    """sitemap XML → ``{"kind": "urlset"|"sitemapindex",
    "entries": [{loc, lastmod, changefreq, priority}]}``; gzip
    payloads (the ``sitemap.xml.gz`` convention) decompress first."""
    import gzip
    import xml.etree.ElementTree as ET

    if data[:2] == b"\x1f\x8b":
        import zlib

        try:
            data = gzip.decompress(data)
        except (OSError, EOFError, zlib.error) as e:
            # truncation raises EOFError, bit flips zlib.error
            raise CrawlGovError(f"bad gzip sitemap: {e}") from None
    if len(data) > max_bytes:
        raise CrawlGovError(
            f"sitemap over size gate ({len(data)} bytes)")
    try:
        root = ET.fromstring(data)
    except (ET.ParseError, LookupError, ValueError) as e:
        # LookupError: a mutated <?xml encoding="UTB-8"?> declaration
        # raises it instead of ParseError (deep-fuzz seed-5 find)
        raise CrawlGovError(f"not XML: {e}") from None
    tag = root.tag.rsplit("}", 1)[-1]
    if tag not in ("urlset", "sitemapindex"):
        raise CrawlGovError(
            f"XML root <{tag}> is not a sitemap document")
    child = "url" if tag == "urlset" else "sitemap"
    entries = []
    for el in root:
        if el.tag.rsplit("}", 1)[-1] != child:
            continue
        entry = {k: None for k in _LOC_FIELDS}
        for sub in el:
            name = sub.tag.rsplit("}", 1)[-1]
            if name in entry:
                entry[name] = (sub.text or "").strip()
        if not entry["loc"]:
            raise CrawlGovError(f"<{child}> entry without <loc>")
        entries.append(entry)
    return {"kind": tag, "entries": entries}


def encode_sitemap(entries: list[dict], kind: str = "urlset",
                   gz: bool = False) -> bytes:
    from xml.sax.saxutils import escape

    child = "url" if kind == "urlset" else "sitemap"
    parts = ['<?xml version="1.0" encoding="UTF-8"?>',
             f'<{kind} xmlns="http://www.sitemaps.org/schemas/'
             'sitemap/0.9">']
    for e in entries:
        parts.append(f"<{child}>")
        for k in _LOC_FIELDS:
            if e.get(k) is not None:
                parts.append(f"<{k}>{escape(str(e[k]))}</{k}>")
        parts.append(f"</{child}>")
    parts.append(f"</{kind}>")
    out = "\n".join(parts).encode()
    if gz:
        import gzip

        out = gzip.compress(out, 9)
    return out


# ---------------------------------------------------------- Spark ops

ROBOTS_RULES_SCHEMA = (
    "doc_id long, decoded_ok boolean, group_idx int, agents string, "
    "rule_idx int, directive string, pattern string, "
    "crawl_delay double, n_sitemaps int"
)


def robots_rules(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched robots explosion: one row per rule (groups with
    no rules emit one null-rule row so allow-all groups are visible);
    malformed payloads isolate as ``decoded_ok=false``."""
    def run(_id, payload):
        _id = int(_id)
        try:
            out = parse_robots(bytes(payload))
            ns = len(out["sitemaps"])
            for gi, g in enumerate(out["groups"]):
                agents = ";".join(g["agents"])
                if not g["rules"]:
                    yield {
                        "doc_id": _id, "decoded_ok": True,
                        "group_idx": gi, "agents": agents,
                        "crawl_delay": g["crawl_delay"],
                        "n_sitemaps": ns}
                for ri, (d, p) in enumerate(g["rules"]):
                    yield {
                        "doc_id": _id, "decoded_ok": True,
                        "group_idx": gi, "agents": agents,
                        "rule_idx": ri, "directive": d,
                        "pattern": p,
                        "crawl_delay": g["crawl_delay"],
                        "n_sitemaps": ns}
        except CrawlGovError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, ROBOTS_RULES_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


FRONTIER_AUDIT_SCHEMA = (
    "doc_id long, decoded_ok boolean, url_idx int, loc string, "
    "path string, allowed boolean, crawl_delay double"
)


def frontier_audit(df, agent: str, id_col: str = "doc_id",
                   robots_col: str = "robots",
                   sitemap_col: str = "sitemap"):
    """FUSED governance composition — the frontier-construction step a
    crawler runs per host: parse the host's robots.txt AND its
    sitemap in one pass, then audit every advertised URL against the
    agent's effective rule group (:func:`is_allowed` — longest
    pattern wins, Allow beats ties).  One map_rows stage: both payloads
    stay in the scan's executor, output is metadata-sized
    (url, allowed, crawl_delay) rows.  Either payload failing
    isolates the whole host as ``decoded_ok=false`` (a frontier must
    not crawl a host whose governance it could not read)."""
    def run(_id, rb, sm):
        _id = int(_id)
        try:
            robots = parse_robots(bytes(rb))
            entries = parse_sitemap(bytes(sm))["entries"]
            g = _group_for(robots, agent)
            delay = g["crawl_delay"] if g else None
            for i, e in enumerate(entries):
                loc = e["loc"]
                path = _url_path(loc)
                yield {
                    "doc_id": _id, "decoded_ok": True,
                    "url_idx": i, "loc": loc, "path": path,
                    "allowed": is_allowed(robots, agent,
                                          path),
                    "crawl_delay": delay}
        except CrawlGovError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(robots_col), F.col(sitemap_col)),
        run, FRONTIER_AUDIT_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


def _url_path(loc: str) -> str:
    """Path component of an absolute URL, '/' when absent."""
    if "://" in loc and "/" in loc.split("://", 1)[-1]:
        return "/" + loc.split("://", 1)[-1].split("/", 1)[-1]
    return "/"


FRONTIER_BUILD_SCHEMA = (
    "doc_id long, decoded_ok boolean, depth int, sitemap_loc string, "
    "url_idx int, loc string, path string, allowed boolean, "
    "crawl_delay double"
)


def expand_host(robots_bytes: bytes, root_bytes: bytes,
                fetched: dict, agent: str,
                max_depth: int = 2) -> list[dict]:
    """Pure per-host frontier walk (the executor-side core of
    :func:`frontier_expand`): breadth-first through the sitemap-index
    tree, one dict per advertised URL with depth, source sitemap and
    robots verdict.  Raises :class:`CrawlGovError` on any governance
    defect — corrupt child, unfetched child, cycle, depth overflow —
    so the caller isolates the whole host."""
    robots = parse_robots(robots_bytes)
    g = _group_for(robots, agent)
    delay = g["crawl_delay"] if g else None
    queue = [("<root>", root_bytes, 0)]
    seen: set[str] = set()
    out_rows: list[dict] = []
    while queue:
        sm_loc, blob, depth = queue.pop(0)
        parsed = parse_sitemap(blob)
        if parsed["kind"] == "urlset":
            for i, e in enumerate(parsed["entries"]):
                path = _url_path(e["loc"])
                out_rows.append({
                    "depth": depth, "sitemap_loc": sm_loc,
                    "url_idx": i, "loc": e["loc"], "path": path,
                    "allowed": is_allowed(robots, agent, path),
                    "crawl_delay": delay})
            continue
        if depth + 1 > max_depth:
            raise CrawlGovError(
                f"sitemap index nested past depth gate ({max_depth})")
        for e in parsed["entries"]:
            child_loc = e["loc"]
            if child_loc in seen:
                raise CrawlGovError(f"sitemap cycle at {child_loc}")
            seen.add(child_loc)
            child = fetched.get(child_loc)
            if child is None:
                raise CrawlGovError(
                    f"index references unfetched child {child_loc}")
            queue.append((child_loc, child, depth + 1))
    return out_rows


def frontier_expand(df, agent: str, max_depth: int = 2,
                    id_col: str = "doc_id",
                    robots_col: str = "robots",
                    root_col: str = "root",
                    locs_col: str = "child_locs",
                    blobs_col: str = "child_blobs"):
    """Sitemap-INDEX expansion into a per-URL frontier — the step
    :func:`frontier_audit` stops short of: most large hosts advertise
    a ``sitemapindex`` whose children (often ``.xml.gz``) hold the
    actual URLs, sometimes through a second index level.  Per host
    row (robots + root sitemap + the fetched child payloads as
    parallel ``child_locs``/``child_blobs`` arrays), walk the index
    tree breadth-first to ``max_depth``, emitting one row per
    advertised URL with its depth, source sitemap and robots verdict.

    Refusals isolate the WHOLE host (a frontier must not crawl a host
    whose governance it could not fully read): a corrupt child (e.g.
    truncated gzip), an index entry whose child was never fetched, a
    child referenced twice (cycle), or an index nested past
    ``max_depth``.  Output is metadata-sized; payload columns never
    leave the scan's executor."""
    def run(_id, rb, root, locs, blobs):
        _id = int(_id)
        try:
            if rb is None or root is None or locs is None \
                    or blobs is None:
                raise CrawlGovError(
                    "host row with null governance columns")
            if len(locs) != len(blobs):
                raise CrawlGovError(
                    "child_locs/child_blobs length mismatch "
                    f"({len(locs)} vs {len(blobs)})")
            if any(v is None for v in blobs):
                raise CrawlGovError("null child sitemap blob")
            fetched = {str(k): bytes(v)
                       for k, v in zip(locs, blobs)}
            for r in expand_host(bytes(rb), bytes(root),
                                 fetched, agent, max_depth):
                yield {"doc_id": _id, "decoded_ok": True, **r}
        except CrawlGovError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(robots_col), F.col(root_col),
                  F.col(locs_col), F.col(blobs_col)),
        run, FRONTIER_BUILD_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


SITEMAP_URLS_SCHEMA = (
    "doc_id long, decoded_ok boolean, kind string, url_idx int, "
    "n_urls int, loc string, lastmod string, changefreq string, "
    "priority string"
)


def sitemap_urls(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched sitemap explosion: one row per <url>/<sitemap>
    entry; gzip payloads decode; malformed isolate."""
    def run(_id, payload):
        _id = int(_id)
        try:
            out = parse_sitemap(bytes(payload))
            es = out["entries"]
            for i, e in enumerate(es):
                yield {
                    "doc_id": _id, "decoded_ok": True,
                    "kind": out["kind"], "url_idx": i,
                    "n_urls": len(es), **e}
        except CrawlGovError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, SITEMAP_URLS_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


def fetch_schedule(df, host_col: str = "host", url_col: str = "url",
                   delay_ms_col: str = "crawl_delay_ms",
                   default_delay_ms: int = 1000):
    """Politeness scheduling over a frontier: per host, assign each
    URL a fetch slot honoring the host's ``Crawl-delay`` (the
    de-facto robots extension ``parse_robots`` already carries) —
    the planning step between frontier construction and the fetcher
    fleet.

    Deterministic: URLs order lexicographically within their host
    (re-runs and engines agree), ``position`` is the 0-based slot and
    ``fetch_offset_ms = position × delay`` the earliest start
    relative to the host's first fetch.  A NULL/negative per-host
    delay falls back to ``default_delay_ms``; the delay is read from
    the host's FIRST frontier row (min over the host — frontier rows
    for one host share one robots verdict upstream).  Also emits
    ``host_makespan_ms`` (the host's last slot) so a scheduler can
    bin-pack hosts onto fetchers by total duration.

    100 TB shape: ONE host-keyed window — per-host sequencing is
    inherent to politeness (the whole point is that a host's fetches
    serialize), and a host's frontier is sitemap-sized, not
    corpus-sized, so the partition is naturally bounded; hosts
    themselves spread across the cluster.  No payload moves: (host,
    url, delay) only."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    delay = F.when(
        F.col(delay_ms_col).isNotNull() & (F.col(delay_ms_col) >= 0),
        F.col(delay_ms_col).cast("long")).otherwise(
        F.lit(default_delay_ms).cast("long"))
    w = Window.partitionBy(host_col).orderBy(url_col)
    wh = Window.partitionBy(host_col)
    return (
        df.select(F.col(host_col), F.col(url_col),
                  delay.alias("_delay"))
        .withColumn("delay_ms", F.min("_delay").over(wh))
        .withColumn("position",
                    (F.row_number().over(w) - 1).cast("long"))
        .withColumn("fetch_offset_ms",
                    (F.col("position") * F.col("delay_ms"))
                    .cast("long"))
        .withColumn("host_makespan_ms",
                    ((F.count(F.lit(1)).over(wh) - 1)
                     * F.col("delay_ms")).cast("long"))
        .select(host_col, url_col, "delay_ms", "position",
                "fetch_offset_ms", "host_makespan_ms"))


def idn_fold_host(host: str) -> str:
    """Fold an internationalized hostname to its ASCII-Compatible
    Encoding (ACE, ``xn--`` labels) per IDNA 2003 — the form the DNS
    actually resolves, so a unicode blocklist rule and the punycode
    host a crawler logged land on the SAME key.

    Per-LABEL, via the stdlib's independent RFC 3492 implementation
    (``encodings.idna.ToASCII``: nameprep → punycode; the same public
    codec every Python resolver path uses — an external witness, not
    a transcription):

    - all-ASCII labels pass through BIT-IDENTICAL (ToASCII is only a
      length check there), so folding is provably a no-op on every
      ASCII host — including already-encoded ``xn--`` labels;
    - non-ASCII labels become ``xn--…`` (case-folded and normalized
      by nameprep: ``MÜNCHEN``→``xn--mnchen-3ya``, ``straße``→
      ``strasse``);
    - a label ToASCII REFUSES (empty, >63 chars post-encode,
      prohibited code points) stays byte-literal — the fold degrades
      to the old documented posture instead of dropping the host,
      and one bad label cannot poison its siblings.

    Callers pass hosts already lowercased; IPv4/bracket-stripped
    IPv6 literals are all-ASCII and untouched.  IDNA 2008/UTS46
    deviations (e.g. transitional ß handling) follow the stdlib's
    IDNA 2003 tables — documented, not approximated."""
    if host is None or host.isascii():
        return host
    from encodings.idna import ToASCII
    out = []
    for label in host.split("."):
        if label.isascii():
            out.append(label)
        else:
            try:
                out.append(ToASCII(label).decode("ascii"))
            except UnicodeError:
                out.append(label)
    return ".".join(out)


def blocklist_verdicts(df, blocked_df, id_col: str = "doc_id",
                       url_col: str = "url", fold_idn: bool = True):
    """UT1-style domain blocklist verdicts: a URL is blocked when its
    host equals a blocked domain OR sits under one on a LABEL
    boundary (``a.b.example.com`` matches ``example.com`` but
    ``notexample.com`` does not — the suffix-string trap the
    label-chain join cannot fall into).  The curation step RefinedWeb/
    FineWeb-class pipelines run against the public UT1 lists.

    Shape: each host explodes into its ≤~10 label suffixes
    (``a.b.c`` → ``a.b.c``, ``b.c``, ``c``) and joins the blocklist
    on EXACT suffix equality — an equi-join on short strings that
    Spark broadcasts when the list fits (UT1 is ~100 MB) and
    shuffle-joins otherwise; no regex scan of the corpus either way.
    Both sides normalize: lowercase, ONE trailing dot stripped (a
    trailing-dot FQDN ``blocked.org.`` resolves identically in DNS
    and would otherwise evade every rule — review find), and empty
    rules (blank blocklist lines) are dropped so they cannot match
    empty-host unparseable URLs.  With ``fold_idn`` (default) BOTH
    sides additionally fold internationalized labels to their ACE
    (``xn--``) form via :func:`idn_fold_host`, so a unicode rule
    matches the punycode host a crawler logged and vice versa; the
    fold is bit-identical on all-ASCII hosts (the overwhelming
    majority — the Arrow hop carries only the short host column, and
    the vectorized path short-circuits ASCII batches), and a label
    IDNA refuses stays byte-literal.  ``fold_idn=False`` restores
    the strict byte-literal posture.
    Returns (id, host, blocked,
    matched_rule) with ``matched_rule`` the MOST-SPECIFIC (longest)
    matching entry, deterministically — a host's suffix chain has
    strictly decreasing lengths, so the max-by-length tiebreak
    cannot tie."""
    from pyspark.sql import functions as F

    # host: bracketed IPv6 literal or reg-name/IPv4; brackets come
    # off after extraction (an IPv6 address has no dots, so its
    # suffix chain is just itself — exact-match rules work, and a
    # colon-full garble can no longer masquerade as '[')
    host = F.regexp_replace(F.regexp_replace(F.lower(F.regexp_extract(
        F.col(url_col),
        r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?"
        r"(\[[^\]/?#]*\]|[^/:?#]+)", 1)),
        r"^\[|\]$", ""), r"\.$", "")
    rule_expr = F.regexp_replace(
        F.lower(F.trim(F.col("domain"))), r"\.$", "")
    if fold_idn:
        def _fold_batch(col):
            import pyarrow as pa
            import pyarrow.compute as pc

            # all-ASCII batches short-circuit without a Python loop
            if pc.all(pc.fill_null(pc.string_is_ascii(col), True)).as_py() is not False:
                return col
            return pa.array([h if h is None or h.isascii() else idn_fold_host(h)
                             for h in col.to_pylist()], col.type)

        _fold = F.arrow_udf(_fold_batch, "string")
        host = _fold(host)
        rule_expr = _fold(rule_expr)
    hosts = df.select(F.col(id_col), host.alias("host"))
    sufs = (
        hosts.withColumn("labels", F.split("host", r"\."))
        .select(
            F.col(id_col),
            F.explode(F.expr(
                "transform(sequence(1, size(labels)), i -> "
                "array_join(slice(labels, i, size(labels) - i + 1), "
                "'.'))")).alias("suffix")))
    rules = (
        blocked_df.select(rule_expr.alias("suffix"))
        .filter(F.col("suffix") != "").distinct())
    matched = (
        sufs.join(rules, "suffix")
        .groupBy(id_col)
        .agg(F.max(F.struct(
            F.length("suffix").alias("l"),
            F.col("suffix").alias("rule"))).alias("m")))
    return (
        hosts.join(matched, id_col, "left")
        .select(
            F.col(id_col), "host",
            F.col("m").isNotNull().alias("blocked"),
            F.col("m.rule").alias("matched_rule")))
