"""Connector-shape tests over LocalPagesTransport fixtures (the engine's
analogue of the reference's per-source pipeline tests)."""

from __future__ import annotations

import pyspark.sql.functions as F

from verified_sources_spark.operators.routing import route_by_column
from verified_sources_spark.sources.rest import LocalPagesTransport, RestClient
from verified_sources_spark.sources.saas import (
    FieldMappingState,
    github_events,
    hubspot_objects,
    hubspot_stage_unpivot,
    pipedrive_recents,
    stripe_incremental,
    zendesk_tickets,
)


def _client(pages):
    return RestClient(LocalPagesTransport(pages))


def test_zendesk_tickets_incremental_with_pivot(spark):
    pages = {
        "https://z/incremental/tickets": [
            (
                {
                    "tickets": [
                        {"id": 1, "updated_at": "2024-01-01", "status": "open",
                         "tags": ["a"], "custom_fields": [{"id": 10, "value": "opt1"}]},
                    ],
                    "end_time": 100,
                    "end_of_stream": False,
                },
                {},
            ),
            (
                {
                    "tickets": [
                        {"id": 2, "updated_at": "2024-01-02", "status": "closed",
                         "tags": [], "custom_fields": [{"id": 10, "value": "opt2"}]},
                    ],
                    "end_time": 200,
                    "end_of_stream": True,
                },
                {},
            ),
        ]
    }
    dim = spark.createDataFrame(
        [(10, "Priority", {"opt1": "High", "opt2": "Low"})],
        "id long, title string, options map<string,string>",
    )
    df = zendesk_tickets(spark, _client(pages), "https://z", start_time=0, fields_dim=dim)
    rows = {r["id"]: r["priority"] for r in df.collect()}
    assert rows == {1: "High", 2: "Low"}


def test_hubspot_objects_archived_union_and_unpivot(spark):
    pages = {
        "https://h/objects/deals": [
            ({"results": [{"id": 1, "properties": {"hs_date_entered_won": "2024-01-05",
                                                    "hs_date_entered_lost": None}}]}, {}),
            ({"results": [{"id": 2, "properties": {"hs_date_entered_won": None,
                                                    "hs_date_entered_lost": "2024-01-06"}}]}, {}),
        ]
    }
    df = hubspot_objects(
        spark, _client(pages), "https://h", "deals",
        ["hs_date_entered_won", "hs_date_entered_lost"],
    )
    assert df.filter(F.col("is_deleted")).count() == 1  # second page served as archived fetch
    long = hubspot_stage_unpivot(df, "id", ["hs_date_entered_won", "hs_date_entered_lost"])
    stages = {(r["id"], r["stage"]) for r in long.collect()}
    assert stages == {(1, "won"), (2, "lost")}


def test_pipedrive_recents_rename_first_seen_wins(spark):
    pages = {
        "https://p/recents": [
            ({"data": [{"data": {"id": 1, "abc123hash": "v1"}}]}, {}),
        ]
    }
    state = FieldMappingState()
    state.update([{"key": "abc123hash", "name": "Deal Value"}])
    state.update([{"key": "abc123hash", "name": "Renamed Later"}])  # ignored
    df = pipedrive_recents(
        spark, _client(pages), "https://p", "2024-01-01",
        "id long, abc123hash string", field_state=state,
    )
    assert df.columns == ["id", "deal_value"]


def test_stripe_incremental_pushdown_and_keyset(spark):
    pages = {
        "https://s/v1/charges": [
            ({"data": [{"id": "ch_1", "created": 50}, {"id": "ch_2", "created": 60}], "has_more": True}, {}),
            ({"data": [{"id": "ch_3", "created": 70}], "has_more": False}, {}),
        ]
    }
    client = _client(pages)
    df = stripe_incremental(
        spark, client, "https://s", "charges", "id string, created long", created_gte=40
    )
    assert df.count() == 3
    first_call = client.transport.calls[0]
    assert first_call[1]["created[gte]"] == 40  # predicate pushdown into request
    assert client.transport.calls[1][1]["starting_after"] == "ch_2"


def test_github_events_route_by_type(spark, tmp_path):
    pages = {
        "https://g/repos/o/r/events": [
            ({"data": [
                {"id": "1", "type": "PushEvent", "actor": "a", "created_at": "t"},
                {"id": "2", "type": "WatchEvent", "actor": "b", "created_at": "t"},
                {"id": "3", "type": "PushEvent", "actor": "c", "created_at": "t"},
            ]}, {}),
        ]
    }
    df = github_events(spark, _client(pages), "https://g", "o/r")
    tables = route_by_column(df, "type", str(tmp_path), name_template="events_{route}")
    assert set(tables) == {"events_push_event", "events_watch_event"}
    assert spark.read.parquet(tables["events_push_event"]).count() == 2


def test_chained_detail_fetch(spark):
    from verified_sources_spark.sources.saas import chained_detail_fetch

    pages = {
        "https://a/workspaces/w1/projects": [({"data": [{"pid": 11}, {"pid": 12}]}, {})],
        "https://a/workspaces/w2/projects": [({"data": [{"pid": 21}]}, {})],
    }
    parents = spark.createDataFrame([("w1",), ("w2",), ("w2",)], "gid string")
    children = chained_detail_fetch(
        spark,
        # runs in executor tasks: name only importable classes, not _client
        lambda: RestClient(LocalPagesTransport(pages)),
        parents,
        "gid",
        "https://a/workspaces/{key}/projects",
        "pid long, gid string",
    )
    rows = sorted((r["gid"], r["pid"]) for r in children.collect())
    assert rows == [("w1", 11), ("w1", 12), ("w2", 21)]  # parent keys carried


def test_chained_detail_fetch_distributed_matches_driver_path(spark):
    """VERDICT r1 #6: the executor-side path (param DF → map_rows fetch,
    no driver collect) gives exactly the rows the driver-side pool gave."""
    from verified_sources_spark.sources.saas import chained_detail_fetch

    pages = {
        "https://a/workspaces/w1/projects": [({"data": [{"pid": 11}, {"pid": 12}]}, {})],
        "https://a/workspaces/w2/projects": [({"data": [{"pid": 21}]}, {})],
        "https://a/workspaces/w3/projects": [({"data": [{"pid": 31}]}, {})],
    }
    parents = spark.createDataFrame([("w1",), ("w2",), ("w2",), ("w3",)], "gid string")

    # local closure (not the module-level _client): cloudpickle ships it by
    # VALUE to executors — test modules aren't importable there; a fresh
    # transport per call is exactly how a real client factory reconnects
    def make_client():
        from verified_sources_spark.sources.rest import LocalPagesTransport, RestClient

        return RestClient(LocalPagesTransport(pages))

    out = chained_detail_fetch(
        spark, make_client, parents, parent_key="gid",
        url_template="https://a/workspaces/{key}/projects", schema="pid long, gid string",
    )
    assert sorted(map(tuple, out.collect())) == [(11, "w1"), (12, "w1"), (21, "w2"), (31, "w3")]


# ------------------------------------------------------ round-2 concrete shapes
def test_slack_thread_replies_self_join(spark):
    """Slack threads (reference sources/slack/__init__.py:158-180): only
    threaded messages fan out, the echoed parent is dropped, replies join
    back to their parent message."""
    from verified_sources_spark.sources.saas import (
        slack_replies_with_parent,
        slack_thread_replies,
    )

    # one conversations.replies page per thread, chosen by the ts param
    threads = {
        "100.1": [
            {"ts": "100.1", "user": "alice", "text": "parent a"},
            {"ts": "100.5", "user": "bob", "text": "re: a"},
            {"ts": "100.9", "user": "carol", "text": "re: a 2"},
        ],
        "200.1": [
            {"ts": "200.1", "user": "dan", "text": "parent b"},
            {"ts": "200.2", "user": "erin", "text": "re: b"},
        ],
    }
    messages = spark.createDataFrame(
        [
            ("C1", "100.1", "100.1", "alice", "parent a"),   # threaded (is a thread root)
            ("C1", "100.2", None, "zoe", "no thread"),        # not threaded -> no fetch
            ("C1", "200.1", "200.1", "dan", "parent b"),      # threaded
        ],
        "channel string, ts string, thread_ts string, user string, text string",
    )

    class RepliesTransport:
        def request(self, url, params):
            assert url == "https://s/conversations.replies" and params["channel"] == "C1"
            return {"messages": threads[params["ts"]]}, {}

    def make_client():
        from verified_sources_spark.sources.rest import RestClient

        return RestClient(RepliesTransport())

    replies = slack_thread_replies(messages, make_client, "https://s")
    got = sorted((r["thread_ts"], r["ts"], r["user"]) for r in replies.collect())
    # parent echoes (ts == thread_ts) dropped — reference's page_data[1:]
    assert got == [("100.1", "100.5", "bob"), ("100.1", "100.9", "carol"), ("200.1", "200.2", "erin")]

    enriched = slack_replies_with_parent(messages, replies)
    by_ts = {r["ts"]: (r["parent_user"], r["parent_text"]) for r in enriched.collect()}
    assert by_ts["100.5"] == ("alice", "parent a")
    assert by_ts["200.2"] == ("dan", "parent b")


def test_matomo_visitors_batch_lookup(spark):
    """Matomo visitors (reference sources/matomo/__init__.py:193-230):
    distinct visitor ids fetched in size-capped id batches, then the
    lookup join enriches visits."""
    from verified_sources_spark.sources.saas import (
        matomo_visitors_batch_lookup,
        matomo_visits_enriched,
    )

    profiles = {
        "v1": {"visitorId": "v1", "visits": 3, "country": "de"},
        "v2": {"visitorId": "v2", "visits": 1, "country": "fr"},
        "v3": {"visitorId": "v3", "visits": 7, "country": "us"},
    }

    class BatchTransport:
        """Returns profiles for exactly the ids in the request — and
        asserts the batch-size cap the reference exists to enforce."""

        def request(self, url, params):
            ids = params["visitorIds"].split(",")
            assert len(ids) <= 2  # chunk_size respected
            return {"data": [profiles[i] for i in ids]}, {}

    def make_client():
        from verified_sources_spark.sources.rest import RestClient

        return RestClient(BatchTransport())

    visits = spark.createDataFrame(
        [("v1", 10), ("v2", 11), ("v1", 12), ("v3", 13)], "visitorId string, action long"
    )
    visitors = matomo_visitors_batch_lookup(
        visits, make_client, "https://m", site_id=5, chunk_size=2
    )
    got = {r["visitorId"]: (r["visits"], r["country"]) for r in visitors.collect()}
    assert got == {"v1": (3, "de"), "v2": (1, "fr"), "v3": (7, "us")}

    enriched = matomo_visits_enriched(visits, visitors)
    assert enriched.filter(F.col("country") == "de").count() == 2  # v1's two visits


def test_salesforce_bulk_query_job_flow(spark):
    """Bulk job: submit → poll (InProgress → JobComplete) → locator-paged
    results (reference sources/salesforce/helpers/records.py:85-121)."""
    from verified_sources_spark.sources.saas import salesforce_bulk_query

    pages = {
        "https://sf/jobs/query": [
            ({"id": "750x", "state": "UploadComplete", "job_url": "https://sf/jobs/query/750x"}, {}),
            # poll 1: still running; poll 2: done
            ({"state": "InProgress"}, {}),
            ({"state": "JobComplete", "result_url": "https://sf/jobs/query/750x/results"}, {}),
        ],
        "https://sf/jobs/query/750x": [
            ({"state": "InProgress"}, {}),
            ({"state": "JobComplete", "result_url": "https://sf/jobs/query/750x/results"}, {}),
        ],
        "https://sf/jobs/query/750x/results": [
            ({"records": [{"Id": "a", "Amount": 1.0}], "nextLocator": "L2"}, {}),
            ({"records": [{"Id": "b", "Amount": 2.0}], "nextLocator": None}, {}),
        ],
    }
    df = salesforce_bulk_query(
        spark, _client(pages), "https://sf", "SELECT Id, Amount FROM Opportunity",
        "Id string, Amount double",
    )
    assert sorted((r["Id"], r["Amount"]) for r in df.collect()) == [("a", 1.0), ("b", 2.0)]


def test_salesforce_bulk_falls_back_to_sync_soql(spark):
    """FeatureNotEnabled → standard sync SOQL with nextRecordsUrl paging —
    the reference's except-branch."""
    from verified_sources_spark.sources.rest import TransportError
    from verified_sources_spark.sources.saas import salesforce_bulk_query

    pages = {
        "https://sf/query": [
            ({"records": [{"Id": "a"}], "done": False,
              "nextRecordsUrl": "https://sf/query/next-2000"}, {}),
        ],
        "https://sf/query/next-2000": [
            ({"records": [{"Id": "b"}], "done": True, "nextRecordsUrl": None}, {}),
        ],
    }
    client = _client(pages)
    client.transport._failures.append(
        TransportError(400, "FeatureNotEnabled: Async API not enabled for this org")
    )
    df = salesforce_bulk_query(spark, client, "https://sf", "SELECT Id FROM Account", "Id string")
    assert sorted(r["Id"] for r in df.collect()) == ["a", "b"]


def test_ga4_metadata_tables(spark):
    """GA4 metadata → two replace-disposition dim tables (reference
    sources/google_analytics/__init__.py:120-153)."""
    from verified_sources_spark.sources.saas import ga4_metadata_tables

    pages = {
        "https://g/properties/123/metadata": [
            (
                {
                    "metrics": [
                        {"apiName": "activeUsers", "uiName": "Active users", "category": "User"},
                        {"apiName": "sessions", "uiName": "Sessions", "category": "Session"},
                    ],
                    "dimensions": [
                        {"apiName": "country", "uiName": "Country", "category": "Geography"},
                    ],
                },
                {},
            )
        ]
    }
    tables = ga4_metadata_tables(spark, _client(pages), "https://g", "123")
    assert sorted(r["api_name"] for r in tables["metrics"].collect()) == ["activeUsers", "sessions"]
    d = tables["dimensions"].collect()
    assert len(d) == 1 and d[0]["category"] == "Geography"


def test_hubspot_props_chunk_union(spark):
    """Property list longer than one request: chunked fetches merge back
    to one row per id with the full property map (reference
    sources/hubspot/__init__.py:245-252, utils.py:14-26)."""
    from verified_sources_spark.sources.saas import (
        chunk_props_by_joined_length,
        hubspot_props_chunk_union,
    )

    # chunking honors the joined-length cap
    chunks = chunk_props_by_joined_length(["aaaa", "bbbb", "cccc", "dd"], 9)
    assert chunks == [["aaaa", "bbbb"], ["cccc", "dd"]]
    assert all(len(",".join(c)) <= 9 for c in chunks)

    class PropsTransport:
        """Serves the same two objects, projecting whatever property chunk
        the request asks for."""

        data = {
            "1": {"aaaa": "1a", "bbbb": "1b", "cccc": "1c", "dd": "1d"},
            "2": {"aaaa": "2a", "bbbb": "2b", "cccc": "2c", "dd": "2d"},
        }

        def request(self, url, params):
            props = params["properties"].split(",")
            assert len(params["properties"]) <= 9  # chunk cap reached the wire
            return {
                "results": [
                    {"id": i, "properties": {p: v[p] for p in props}}
                    for i, v in self.data.items()
                ]
            }, {}

    client = RestClient(PropsTransport())
    df = hubspot_props_chunk_union(
        spark, client, "https://h", "companies", ["aaaa", "bbbb", "cccc", "dd"],
        max_props_length=9,
    )
    rows = {r["id"]: dict(r["properties"]) for r in df.collect()}
    assert rows == {"1": PropsTransport.data["1"], "2": PropsTransport.data["2"]}


def test_select_hubspot_props_rules(spark):
    from verified_sources_spark.sources.saas import select_hubspot_props
    import pytest

    avail = {"hs_a": "string", "hs_b": "number", "custom_x": "string"}
    # full request honors include_custom
    assert select_hubspot_props(list(avail), avail, include_custom=False) == ["hs_a", "hs_b"]
    # partial request unions customs when asked
    assert select_hubspot_props(["hs_a"], avail, include_custom=True) == ["custom_x", "hs_a"]
    # unknown prop errors
    with pytest.raises(ValueError):
        select_hubspot_props(["nope"], avail)


def test_zendesk_four_protocol_matrix(spark):
    """One connector config drives all four Zendesk pagination protocols
    (reference talk_api.py:84-116) — each against its own fixture."""
    from verified_sources_spark.sources.saas import zendesk_endpoint_matrix

    eps = zendesk_endpoint_matrix("https://z")
    pages = {
        # OFFSET: absolute next_page until absent
        "https://z/api/v2/channels/voice/calls": [
            ({"calls": [{"id": 1}], "next_page": "https://z/calls?page=2"}, {}),
        ],
        "https://z/calls?page=2": [({"calls": [{"id": 2}], "next_page": None}, {})],
        # CURSOR: links.next guarded by meta.has_more
        "https://z/api/v2/tickets": [
            ({"tickets": [{"id": 10}], "meta": {"has_more": True},
              "links": {"next": "https://z/tickets?cursor=c2"}}, {}),
        ],
        "https://z/tickets?cursor=c2": [
            ({"tickets": [{"id": 11}], "meta": {"has_more": False}, "links": {}}, {}),
        ],
        # STREAM: next_page until end_of_stream
        "https://z/api/v2/incremental/ticket_events": [
            ({"ticket_events": [{"id": 20}], "end_of_stream": False,
              "next_page": "https://z/events?start=2"}, {}),
        ],
        "https://z/events?start=2": [
            ({"ticket_events": [{"id": 21}], "end_of_stream": True, "next_page": "https://z/x"}, {}),
        ],
        # START_TIME: next_page while count > 0
        "https://z/api/v2/channels/voice/legs/incremental": [
            ({"legs": [{"id": 30}], "count": 1, "next_page": "https://z/legs?start=2"}, {}),
        ],
        "https://z/legs?start=2": [({"legs": [], "count": 0, "next_page": "https://z/y"}, {})],
    }
    got = {}
    for name, ep in eps.items():
        client = _client(pages)
        got[name] = [r["id"] for r in client.records(ep)]
    assert got == {
        "calls": [1, 2],
        "tickets": [10, 11],
        "ticket_events": [20, 21],
        "legs": [30],
    }


def test_bing_page_stats_composite_key_merge(spark):
    """Composite-key merge shape (reference bing_webmaster/__init__.py:38-63):
    same (site_url, page, date) upserts, different composite stays."""
    from verified_sources_spark.operators.merge import merge_dataframes
    from verified_sources_spark.sources.saas import (
        BING_PAGE_STATS_MERGE_KEYS,
        bing_page_stats,
    )

    pages = {
        "https://b/GetPageStats": [
            ({"d": [
                {"page": "/home", "date": "2024-01-01", "clicks": 5, "impressions": 100},
                {"page": "/docs", "date": "2024-01-01", "clicks": 2, "impressions": 30},
            ]}, {}),
        ]
    }
    df = bing_page_stats(spark, _client(pages), "https://b", "https://site")
    assert df.count() == 2 and df.filter(F.col("site_url") == "https://site").count() == 2

    refresh = spark.createDataFrame(
        [("https://site", "/home", "2024-01-01", 9, 150)], df.schema
    )
    merged = merge_dataframes(df, refresh, keys=list(BING_PAGE_STATS_MERGE_KEYS))
    rows = {(r["page"], r["date"]): r["clicks"] for r in merged.collect()}
    assert rows == {("/home", "2024-01-01"): 9, ("/docs", "2024-01-01"): 2}


def test_arrow_batched_collection_scan(spark):
    """Mongo Arrow-loader analogue (reference mongodb/helpers.py:309-465):
    parallel skip/limit windows fetched executor-side, results crossing
    the boundary as Arrow batches."""
    from verified_sources_spark.sources.arrow_ingest import (
        batched_collection_scan,
        plan_skip_limit_batches,
    )

    batches = plan_skip_limit_batches(total=10, batch_size=4)
    assert batches == [
        {"skip": 0, "limit": 4}, {"skip": 4, "limit": 4}, {"skip": 8, "limit": 2},
    ]

    def make_fetch():
        import pandas as pd

        # deterministic fake collection: doc i -> {"_id": i, "v": i*i}
        def fetch(skip, limit):
            ids = list(range(skip, min(skip + limit, 10)))
            return pd.DataFrame({"_id": ids, "v": [i * i for i in ids]})

        return fetch

    df = batched_collection_scan(spark, make_fetch, batches, "_id long, v long")
    got = sorted((r["_id"], r["v"]) for r in df.collect())
    assert got == [(i, i * i) for i in range(10)]


def test_arrow_table_to_df(spark):
    import pyarrow as pa

    from verified_sources_spark.sources.arrow_ingest import arrow_table_to_df

    t = pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    df = arrow_table_to_df(spark, t)
    assert sorted(map(tuple, df.collect())) == [(1, "x"), (2, "y"), (3, "z")]


def test_http_transport_contract():
    """HttpTransport speaks the Transport contract against a fake
    requests.Session — network never involved; Retry-After surfaces on
    the TransportError for RestClient's 429 protocol."""
    import pytest

    from verified_sources_spark.sources.rest import HttpTransport, TransportError

    class FakeResp:
        def __init__(self, status, body, headers=None):
            self.status_code = status
            self._body = body
            import json as j

            self.content = j.dumps(body).encode()
            self.text = j.dumps(body)
            self.headers = headers or {}

        def json(self):
            return self._body

    class FakeSession:
        def __init__(self):
            self.calls = []

        def get(self, url, params=None, headers=None, timeout=None):
            self.calls.append((url, params))
            if url.endswith("/limited"):
                return FakeResp(429, {"error": "rate"}, {"Retry-After": "1.5"})
            return FakeResp(200, {"data": [{"id": 1}]}, {"X-H": "v"})

    t = HttpTransport(session=FakeSession())
    body, headers = t.request("https://api/x", {"p": 1})
    assert body == {"data": [{"id": 1}]} and headers["X-H"] == "v"
    with pytest.raises(TransportError) as ei:
        t.request("https://api/limited", {})
    assert ei.value.status == 429 and ei.value.retry_after == 1.5


def test_shopify_partner_graphql_cursor_feedback(spark):
    """Last edge's cursor becomes the next page's variable (reference
    shopify_dlt/helpers.py:127-145); stops on empty page."""
    from verified_sources_spark.sources.saas import shopify_partner_graphql_records

    pages = {
        "https://p/graphql.json": [
            ({"data": {"transactions": {"edges": [
                {"cursor": "c1", "node": {"id": "t1"}},
                {"cursor": "c2", "node": {"id": "t2"}},
            ]}}}, {}),
            ({"data": {"transactions": {"edges": [
                {"cursor": "c3", "node": {"id": "t3"}},
            ]}}}, {}),
            ({"data": {"transactions": {"edges": []}}}, {}),
        ]
    }
    client = _client(pages)
    edges = list(shopify_partner_graphql_records(client, "https://p/graphql.json", "query {}"))
    assert [e["node"]["id"] for e in edges] == ["t1", "t2", "t3"]
    # cursor feedback: calls 2 and 3 carry the previous page's LAST cursor
    assert client.transport.calls[1][1]["after"] == "c2"
    assert client.transport.calls[2][1]["after"] == "c3"


def test_google_ads_gaql_reports(spark):
    from verified_sources_spark.sources.saas import (
        GOOGLE_ADS_DEFAULT_REPORTS,
        google_ads_report,
    )

    assert set(GOOGLE_ADS_DEFAULT_REPORTS) == {
        "customers", "campaigns", "change_events", "customer_clients",
    }
    pages = {
        "https://ads/v/customers/123/googleAds:searchStream": [
            ({"results": [{"id": 1, "descriptive_name": "acme"}],
              "nextPageToken": "p2"}, {}),
        ],
    }
    # follow-up page arrives via pageToken param on the same URL
    pages["https://ads/v/customers/123/googleAds:searchStream"].append(
        ({"results": [{"id": 2, "descriptive_name": "beta"}], "nextPageToken": None}, {})
    )
    client = _client(pages)
    df = google_ads_report(
        spark, client, "https://ads", "123",
        GOOGLE_ADS_DEFAULT_REPORTS["customers"], "id long, descriptive_name string",
    )
    assert df.count() == 2
    assert client.transport.calls[0][1]["query"].startswith("SELECT customer.id")
    assert client.transport.calls[1][1]["pageToken"] == "p2"


def test_jira_dual_pagination(spark):
    """One shape, both Jira protocols: classic startAt offsets and the
    newer nextPageToken cursor."""
    from verified_sources_spark.sources.saas import jira_issues

    offset_pages = {
        "https://j/rest/api/3/search": [
            ({"issues": [{"key": f"A-{i}"} for i in range(50)]}, {}),
            ({"issues": [{"key": "A-50"}]}, {}),
        ]
    }
    c1 = _client(offset_pages)
    df = jira_issues(spark, c1, "https://j", "project=A", "key string")
    assert df.count() == 51
    assert c1.transport.calls[0][1]["startAt"] == 0 and c1.transport.calls[1][1]["startAt"] == 50
    assert c1.transport.calls[0][1]["jql"] == "project=A"  # predicate pushdown

    token_pages = {
        "https://j/rest/api/3/search": [
            ({"issues": [{"key": "B-1"}], "nextPageToken": "tok2"}, {}),
            ({"issues": [{"key": "B-2"}], "nextPageToken": None}, {}),
        ]
    }
    c2 = _client(token_pages)
    df2 = jira_issues(spark, c2, "https://j", "project=B", "key string", use_token_paging=True)
    assert df2.count() == 2
    assert c2.transport.calls[1][1]["nextPageToken"] == "tok2"


def test_airtable_reflected_schema_tables(spark):
    """Schema reflection: field types map to an explicit StructType; the
    primary field becomes the merge-key hint (reference
    airtable/__init__.py:29-57)."""
    from verified_sources_spark.sources.saas import airtable_base_tables

    pages = {
        "https://air/meta/bases/app1/tables": [
            ({"tables": [
                {"id": "tblX", "name": "Leads", "primaryFieldId": "fld1",
                 "fields": [
                     {"id": "fld1", "name": "Name", "type": "singleLineText"},
                     {"id": "fld2", "name": "Score", "type": "number"},
                     {"id": "fld3", "name": "Won", "type": "checkbox"},
                 ]},
                {"id": "tblY", "name": "Skipped", "primaryFieldId": "f",
                 "fields": [{"id": "f", "name": "N", "type": "singleLineText"}]},
            ]}, {}),
        ],
        "https://air/app1/tblX": [
            ({"records": [
                {"id": "rec1", "fields": {"Name": "a", "Score": 1.5, "Won": True}},
                {"id": "rec2", "fields": {"Name": "b", "Score": 2.0, "Won": False}},
            ], "offset": None}, {}),
        ],
    }
    tables = airtable_base_tables(spark, _client(pages), "https://air", "app1",
                                  table_names=["Leads"])
    assert list(tables) == ["Leads"]
    df = tables["Leads"]
    dtypes = dict(df.dtypes)
    assert dtypes["Name"] == "string" and dtypes["Score"] == "double" and dtypes["Won"] == "boolean"
    assert df.select("_merge_key").first()[0] == "Name"  # primary field hint
    assert df.count() == 2


def test_notion_search_cursor_paging(spark):
    from verified_sources_spark.sources.saas import notion_search

    pages = {
        "https://n/v1/search": [
            ({"results": [{"id": "p1", "object": "page", "last_edited_time": "t1"}],
              "has_more": True, "next_cursor": "cur2"}, {}),
            ({"results": [{"id": "p2", "object": "page", "last_edited_time": "t2"}],
              "has_more": False, "next_cursor": None}, {}),
        ]
    }
    client = _client(pages)
    df = notion_search(spark, client, "https://n", "roadmap", object_filter="page")
    assert sorted(r["id"] for r in df.collect()) == ["p1", "p2"]
    assert client.transport.calls[1][1]["start_cursor"] == "cur2"
    assert client.transport.calls[0][1]["filter[value]"] == "page"


def test_facebook_batch_enrich(spark):
    """Batch-API enrichment (reference facebook_ads/helpers.py:90-128):
    ids chunked into batch calls executor-side; responses left-join back
    onto the base rows."""
    from verified_sources_spark.sources.saas import facebook_batch_enrich

    thumbs = {"a1": "https://t/1.png", "a2": "https://t/2.png", "a3": "https://t/3.png"}

    class BatchTransport:
        def request(self, url, params):
            ids = params["ids"].split(",")
            assert len(ids) <= 2  # chunk cap respected
            assert params["fields"] == "thumbnail_url"
            return {"data": [{"id": i, "thumbnail_url": thumbs[i]} for i in ids]}, {}

    def make_client():
        from verified_sources_spark.sources.rest import RestClient

        return RestClient(BatchTransport())

    creatives = spark.createDataFrame(
        [("a1", "creative 1"), ("a2", "creative 2"), ("a3", "creative 3"), ("a1", "dup row")],
        "id string, name string",
    )
    out = facebook_batch_enrich(
        creatives, make_client, "https://fb", ["thumbnail_url"], chunk_size=2
    )
    rows = {(r["id"], r["name"]): r["thumbnail_url"] for r in out.collect()}
    assert rows == {
        ("a1", "creative 1"): "https://t/1.png",
        ("a1", "dup row"): "https://t/1.png",
        ("a2", "creative 2"): "https://t/2.png",
        ("a3", "creative 3"): "https://t/3.png",
    }


def test_resize_images_plumbing(spark):
    from verified_sources_spark.llm.multimodal import resize_images

    df = spark.createDataFrame(
        [(1, bytearray(b"\x01" * 500)), (2, bytearray(b"\x02" * 10))],
        "doc_id long, asset binary",
    )
    out = resize_images(df, width=224, height=224)
    rows = {r["doc_id"]: (r["width"], r["height"], len(r["resized"])) for r in out.collect()}
    assert rows[1] == (224, 224, 12)  # 224*224//4096 = 12-byte fake payload
    assert rows[2] == (224, 224, 10)  # capped at input length


def test_matomo_report_processing_shapes(spark):
    """Date-keyed report nesting → rows (reference
    data_processing.py:12-43): list values, dict values, plain lists."""
    from verified_sources_spark.sources.saas import (
        matomo_process_report,
        matomo_report_to_rows,
    )

    keyed_lists = {"2024-01-01": [{"v": 1}, {"v": 2}], "2024-01-02": [{"v": 3}]}
    df = matomo_report_to_rows(spark, keyed_lists, "v long, date string")
    assert sorted((r["date"], r["v"]) for r in df.collect()) == [
        ("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 3),
    ]

    keyed_dicts = {"2024-01-01": {"v": 9}}
    assert matomo_process_report(keyed_dicts) == [{"v": 9, "date": "2024-01-01"}]

    plain = [{"v": 5}, {"v": 6}]
    assert matomo_process_report(plain) == plain

    scalar_report = {"nb_visits": 10}  # non-nested values → returned whole
    assert matomo_process_report(scalar_report) == [scalar_report]


def test_matomo_remove_active_visits_cutoff_rule(spark):
    """Reference rule: cut at the LAST active visit, dropping it and all
    earlier rows — even closed ones before it."""
    from verified_sources_spark.sources.saas import matomo_remove_active_visits

    NOW = 10_000.0
    rows = [
        # idx, first, last           active?
        (0, 1000.0, 2000.0),       # closed (old)
        (1, 9000.0, 9900.0),       # ACTIVE (recent, short)
        (2, 1000.0, 3000.0),       # closed but BEFORE... no, after idx1
        (3, 1000.0, 4000.0),       # closed
    ]
    df = spark.createDataFrame(rows, "idx long, firstActionTimestamp double, lastActionTimestamp double")
    out = matomo_remove_active_visits(df, visit_timeout_seconds=300,
                                      visit_max_duration_seconds=3600, now_ts=NOW)
    assert sorted(r["idx"] for r in out.collect()) == [2, 3]  # idx<=1 dropped

    # no active visits → unchanged
    closed = matomo_remove_active_visits(df.filter(F.col("idx") > 1), 300, 3600, NOW)
    assert closed.count() == 2


def _job_ids(spark, fn):
    """(result of fn(), ids of the Spark jobs it ran)."""
    import uuid

    sc = spark.sparkContext
    group = f"fan_out_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        return fn(), list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_chained_detail_fetch_over_fanned_out_parents_runs_no_job_to_build(spark, tmp_path):
    """A chain over 100 parents that are themselves a fan-out: building it
    runs no Spark job, and one action calls each parent and each child
    endpoint once (the executors log every call to a shared file)."""
    from verified_sources_spark.sources.rest import RestEndpoint, fetch_distributed
    from verified_sources_spark.sources.saas import chained_detail_fetch

    log = str(tmp_path / "calls.log")

    class CountingTransport:
        def request(self, url, params):
            with open(log, "a") as f:
                f.write(url + "\n")
            kind, key = url.rsplit("/", 2)[1:]
            if kind == "parent":
                return {"data": [{"gid": f"g{key}"}]}, {}
            return {"data": [{"pid": int(key[1:]) * 10}]}, {}

    def make_client():
        return RestClient(CountingTransport())

    parents, parent_jobs = _job_ids(spark, lambda: fetch_distributed(
        spark.range(100).withColumnRenamed("id", "n"), make_client,
        lambda p: RestEndpoint(f"https://a/parent/{p['n']}"), "gid string"))
    children, chain_jobs = _job_ids(spark, lambda: chained_detail_fetch(
        spark, make_client, parents, "gid", "https://a/child/{key}", "pid long, gid string"))
    assert parent_jobs == chain_jobs == []

    rows = sorted(map(tuple, children.collect()))
    assert rows == sorted((i * 10, f"g{i}") for i in range(100))
    with open(log) as f:
        calls = f.read().split()
    assert sorted(calls) == sorted(
        [f"https://a/parent/{i}" for i in range(100)]
        + [f"https://a/child/g{i}" for i in range(100)])


# ------------------------------------------------- r7 long-tail connectors


def test_workable_endpoints_and_details(spark):
    """Workable (reference workable/__init__.py:30-120): paging.next
    absolute-URL pagination, records under the endpoint-named key,
    created_after on list endpoints vs updated_after on candidates, and
    the jobs-by-shortcode dependent details."""
    from verified_sources_spark.sources.saas import (
        WORKABLE_DETAIL_DISPOSITIONS,
        WORKABLE_DETAILS,
        workable_details,
        workable_endpoints,
    )

    eps = workable_endpoints(
        "https://w/spi/v3", created_after="2000-01-01", updated_after="2024-01-01"
    )
    assert set(eps) == {
        "members", "recruiters", "stages", "requisitions", "jobs",
        "custom_attributes", "events", "candidates",
    }
    assert eps["jobs"].params["created_after"] == "2000-01-01"
    assert "updated_after" not in eps["jobs"].params
    assert eps["candidates"].params["updated_after"] == "2024-01-01"

    pages = {
        "https://w/spi/v3/jobs": [
            ({"jobs": [{"shortcode": "J1"}],
              "paging": {"next": "https://w/spi/v3/jobs?since=2"}}, {}),
        ],
        "https://w/spi/v3/jobs?since=2": [({"jobs": [{"shortcode": "J2"}]}, {})],
    }
    jobs = [r["shortcode"] for r in _client(pages).records(eps["jobs"])]
    assert jobs == ["J1", "J2"]

    # dependent details: one fetch per parent code, children keyed back
    parent = spark.createDataFrame([("J1",), ("J2",)], "shortcode string")
    detail_pages = {
        f"https://w/spi/v3/jobs/{c}/questions": [
            ({"questions": [{"q": f"q-{c}"}]}, {})
        ]
        for c in ("J1", "J2")
    }
    df = workable_details(
        # runs in executor tasks: name only importable classes, not _client
        spark, lambda: RestClient(LocalPagesTransport(detail_pages)), parent, "jobs", "questions",
        "https://w/spi/v3", "q string, shortcode string",
    )
    assert {(r.q, r.shortcode) for r in df.collect()} == {
        ("q-J1", "J1"), ("q-J2", "J2"),
    }
    assert WORKABLE_DETAIL_DISPOSITIONS == {"candidates": "append", "jobs": "replace"}
    assert "application_form" in WORKABLE_DETAILS["jobs"]


def test_freshdesk_endpoint_matrix(spark):
    """Freshdesk (reference freshdesk_client.py:66-102): bare-array
    bodies, page-number pagination stopping on the first empty page, and
    the tickets/contacts incremental params under their two different
    names."""
    from verified_sources_spark.sources.saas import (
        FRESHDESK_ENDPOINTS,
        FRESHDESK_PRIMARY_KEY,
        freshdesk_endpoints,
    )

    eps = freshdesk_endpoints("https://f/api/v2", per_page=2,
                              updated_since="2024-05-01T00:00:00Z")
    assert set(eps) == set(FRESHDESK_ENDPOINTS)
    assert eps["tickets"].params["updated_since"] == "2024-05-01T00:00:00Z"
    assert eps["contacts"].params["_updated_since"] == "2024-05-01T00:00:00Z"
    assert "updated_since" not in eps["agents"].params
    assert FRESHDESK_PRIMARY_KEY == "id"

    pages = {
        "https://f/api/v2/tickets": [
            ([{"id": 1}, {"id": 2}], {}),   # page 1 (full)
            ([{"id": 3}], {}),              # page 2 (short but non-empty)
            ([], {}),                       # page 3: empty → stop
        ],
    }
    transport = LocalPagesTransport(pages)
    got = [r["id"] for r in RestClient(transport).records(eps["tickets"])]
    assert got == [1, 2, 3]
    assert [p["page"] for _u, p in transport.calls] == [1, 2, 3]


def test_personio_attribute_flatten():
    """Personio (reference personio/__init__.py:54-68): universal_id
    naming with label fallback, date coercion to aware datetimes."""
    from verified_sources_spark.sources.saas import (
        personio_employee_rows,
        personio_employees_endpoint,
    )

    items = [
        {"attributes": {
            "a": {"universal_id": "first_name", "label": "First name",
                  "type": "standard", "value": "Ada"},
            "b": {"universal_id": None, "label": "Hire Date",
                  "type": "date", "value": "2023-04-01T00:00:00Z"},
            "c": {"universal_id": "office", "label": "Office",
                  "type": "standard", "value": None},
        }},
    ]
    rows = personio_employee_rows(items)
    assert rows[0]["first_name"] == "Ada"
    assert rows[0]["office"] is None
    hd = rows[0]["hire_date"]  # label fallback: lowercased, underscored
    assert hd.year == 2023 and hd.tzinfo is not None

    ep = personio_employees_endpoint("https://p/v1", updated_since="2024-01-01T00:00:00")
    assert ep.params == {"limit": 200, "updated_since": "2024-01-01T00:00:00"}
    assert ep.records_path == "data"


def test_mux_strapi_pokemon_configs():
    """Connector matrix for the remaining starters (reference mux/
    __init__.py:27-85, strapi/helpers.py:10-46, pokemon/__init__.py:15-32)."""
    from verified_sources_spark.sources.saas import (
        MUX_DISPOSITIONS,
        mux_endpoints,
        pokemon_endpoints,
        strapi_endpoints,
    )

    mux = mux_endpoints("https://api.mux.com", limit=2, view_window=(100, 200))
    assert MUX_DISPOSITIONS == {"assets": "merge", "views": "append"}
    # assets: ONE call even when the page is full (no paginator loop)
    pages = {
        "https://api.mux.com/video/v1/assets": [
            ({"data": [{"id": "a"}, {"id": "b"}]}, {}),
            ({"data": [{"id": "SHOULD-NOT-FETCH"}]}, {}),
        ],
    }
    t = LocalPagesTransport(pages)
    assert [r["id"] for r in RestClient(t).records(mux["assets"])] == ["a", "b"]
    assert len(t.calls) == 1
    # views: page-number pagination within the timeframe window
    vpages = {
        "https://api.mux.com/data/v1/video-views": [
            ({"data": [{"id": "v1"}, {"id": "v2"}]}, {}),
            ({"data": []}, {}),
        ],
    }
    vt = LocalPagesTransport(vpages)
    assert [r["id"] for r in RestClient(vt).records(mux["views"])] == ["v1", "v2"]
    assert all(p["timeframe[]"] == [100, 200] for _u, p in vt.calls)

    strapi = strapi_endpoints("https://s", ["articles"], page_size=2)
    spages = {
        "https://s/api/articles": [
            ({"data": [{"id": 1}, {"id": 2}],
              "meta": {"pagination": {"total": 3}}}, {}),
            ({"data": [{"id": 3}],
              "meta": {"pagination": {"total": 3}}}, {}),
        ],
    }
    st = LocalPagesTransport(spages)
    assert [r["id"] for r in RestClient(st).records(strapi["articles"])] == [1, 2, 3]
    # offset advanced under strapi's bracketed param names
    assert [p["pagination[start]"] for _u, p in st.calls] == [0, 2]

    pk = pokemon_endpoints("https://pk")
    ppages = {"https://pk/berry": [({"results": [{"name": "cheri"}]}, {})]}
    assert [r["name"] for r in RestClient(LocalPagesTransport(ppages)).records(pk["berries"])] == ["cheri"]
