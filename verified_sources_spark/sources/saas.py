"""Concrete SaaS connectors expressed as config + transforms over the
REST framework — demonstrating that each reference connector reduces to
(endpoint config, paginator, schema, small DataFrame transform).

Implemented connector shapes (SURVEY.md §2.1):

- ``zendesk_tickets``  — incremental time-export + custom-field pivot
  (reference sources/zendesk/__init__.py:218-436,
  helpers/api_helpers.py:20-80)
- ``hubspot_objects``  — property selection, archived+live union with
  ``is_deleted`` flag, stage-date unpivot
  (reference sources/hubspot/__init__.py:92-105, 186-219)
- ``pipedrive_recents`` — /recents incremental feed + custom-field
  hash→name rename with first-seen-wins state
  (reference sources/pipedrive/__init__.py:30-34,
  helpers/custom_fields_munger.py:44-102)
- ``stripe_incremental`` — keyset pagination + created >= cursor pushdown
  (reference sources/stripe_analytics/__init__.py:54-60, helpers.py:11-39)
- ``github_events``    — Link-header pagination + per-event-type table
  routing (reference sources/github/__init__.py:68-90, helpers.py:25-43)

Every connector returns plain DataFrames; sinks/dispositions come from
operators.merge per the hints the reference declares (merge on pk,
replace, append)."""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from verified_sources_spark import sizing
from verified_sources_spark.boundary import map_batches
from verified_sources_spark.operators.pivot import custom_field_pivot, rename_from_mapping, unpivot
from verified_sources_spark.sources.rest import (
    HeaderLinkPaginator,
    KeysetPaginator,
    OffsetPaginator,
    RestClient,
    RestEndpoint,
    StartTimePaginator,
    fetch_distributed,
    fetch_to_dataframe,
)


# ------------------------------------------------------------------ zendesk
TICKET_SCHEMA = (
    "id long, updated_at string, status string, tags array<string>, "
    "custom_fields array<struct<id:long, value:string>>"
)


def zendesk_tickets(
    spark: SparkSession,
    client: RestClient,
    base_url: str,
    start_time: int,
    fields_dim: DataFrame | None = None,
) -> DataFrame:
    """Incremental ticket export from ``start_time``; custom fields pivoted
    to columns when the fields dimension is supplied."""
    ep = RestEndpoint(
        f"{base_url}/incremental/tickets",
        params={"start_time": start_time},
        records_path="tickets",
        paginator=StartTimePaginator(),
    )
    df = fetch_to_dataframe(spark, client, ep, TICKET_SCHEMA)
    if fields_dim is not None:
        pivoted = custom_field_pivot(df, fields_dim, "id")
        df = df.drop("custom_fields").join(pivoted, "id", "left")
    return df


# ------------------------------------------------------------------ hubspot
def hubspot_objects(
    spark: SparkSession,
    client: RestClient,
    base_url: str,
    object_type: str,
    properties: list[str],
    include_archived: bool = True,
) -> DataFrame:
    """CRM objects: live + archived unioned with an ``is_deleted`` flag
    (the reference's soft-delete context, sources/hubspot/__init__.py:92-105).
    Property list is explicit — the connector-level projection pushdown."""
    schema = "id long, " + ", ".join(f"{p} string" for p in properties)
    prop_param = ",".join(properties)

    def _fetch(archived: bool) -> DataFrame:
        ep = RestEndpoint(
            f"{base_url}/objects/{object_type}",
            params={"properties": prop_param, "archived": str(archived).lower()},
            records_path="results",
            paginator=OffsetPaginator(limit=100, offset_param="after"),
        )
        return fetch_to_dataframe(
            spark, client, ep, schema,
            transform=lambda r: {"id": r["id"], **r.get("properties", {})},
        ).withColumn("is_deleted", F.lit(archived))

    live = _fetch(False)
    return live.unionByName(_fetch(True), allowMissingColumns=True) if include_archived else live


def hubspot_stage_unpivot(df: DataFrame, id_col: str, stage_cols: list[str]) -> DataFrame:
    """Wide `hs_date_entered_<stage>` columns → long (id, stage, date_entered)
    (reference sources/hubspot/__init__.py:186-219)."""
    long = unpivot(df, [id_col], stage_cols, "stage", "date_entered")
    return long.withColumn("stage", F.regexp_replace("stage", "^hs_date_entered_", "")).filter(
        F.col("date_entered").isNotNull()
    )


# ---------------------------------------------------------------- pipedrive
@dataclass
class FieldMappingState:
    """Custom-field hash→name mapping with first-seen-wins persistence
    (reference custom_fields_munger.py:44-80): once a hash maps to a name,
    later renames don't break existing columns."""

    mapping: dict[str, str] = field(default_factory=dict)

    def update(self, fields: list[dict[str, Any]], key="key", name="name") -> None:
        for f_ in fields:
            self.mapping.setdefault(f_[key], f_[name])


def pipedrive_recents(
    spark: SparkSession,
    client: RestClient,
    base_url: str,
    since: str,
    schema: str,
    field_state: FieldMappingState | None = None,
) -> DataFrame:
    """/recents incremental entity feed; custom-field columns renamed via
    the persisted mapping."""
    ep = RestEndpoint(
        f"{base_url}/recents",
        params={"since_timestamp": since, "limit": 500},
        records_path="data",
        paginator=OffsetPaginator(limit=500, offset_param="start"),
    )
    df = fetch_to_dataframe(spark, client, ep, schema, transform=lambda r: r.get("data", r))
    if field_state:
        df = rename_from_mapping(df, field_state.mapping)
    return df


# ------------------------------------------------------------------- stripe
def stripe_incremental(
    spark: SparkSession,
    client: RestClient,
    base_url: str,
    endpoint: str,
    schema: str,
    created_gte: int | None = None,
) -> DataFrame:
    """Append-mode incremental endpoint: keyset pagination ordered by id,
    ``created >= watermark`` pushed into the request params."""
    params: dict[str, Any] = {"limit": 100}
    if created_gte is not None:
        params["created[gte]"] = created_gte
    ep = RestEndpoint(
        f"{base_url}/v1/{endpoint}",
        params=params,
        records_path="data",
        paginator=KeysetPaginator(),
    )
    return fetch_to_dataframe(spark, client, ep, schema)


# ------------------------------------------------------- transformer chains
def chained_detail_fetch(
    spark: SparkSession,
    make_client,
    parent: DataFrame,
    parent_key: str,
    url_template: str,
    schema: str,
    records_path: str = "data",
) -> DataFrame:
    """Parent→child transformer chain (reference asana workspaces →
    projects → tasks → stories, sources/asana_dlt/__init__.py:64-207;
    workable candidates → details, workable/__init__.py:92-120): each
    distinct parent key fans out one detail endpoint; children carry the
    parent key, and results land as one DataFrame — an index-nested-loop
    join against a remote API.  The keys stay a DataFrame end to end
    (``fetch_distributed`` over ``parent.select(parent_key).distinct()``):
    nothing collects to the driver, building the chain runs no Spark
    job, and each parent is evaluated once per action."""
    return fetch_distributed(
        parent.select(parent_key).distinct(),
        make_client,
        lambda p: RestEndpoint(
            url_template.format(key=p[parent_key]), records_path=records_path
        ),
        schema,
        transform=lambda rec, p: {**rec, parent_key: p[parent_key]},
    )


# -------------------------------------------------------- pushed-down query builders
def build_soql(
    fields: list[str],
    sobject: str,
    replication_key: str | None = None,
    last_state: str | None = None,
    limit: int | None = None,
) -> str:
    """Salesforce SOQL with incremental predicate + sort pushdown
    (reference sources/salesforce/helpers/records.py:85-94): the engine's
    cursor becomes a server-side WHERE/ORDER BY, not a post-filter."""
    q = f"SELECT {', '.join(fields)} FROM {sobject}"
    if replication_key and last_state:
        q += f" WHERE {replication_key} > {last_state} ORDER BY {replication_key} ASC"
    if limit:
        q += f" LIMIT {limit}"
    return q


def build_gaql(
    fields: list[str],
    resource: str,
    during: str | None = None,
    where: str | None = None,
    limit: int | None = None,
) -> str:
    """Google Ads GAQL (reference sources/google_ads/__init__.py:141)."""
    q = f"SELECT {', '.join(fields)} FROM {resource}"
    clauses = []
    if where:
        clauses.append(where)
    if during:
        clauses.append(f"segments.date DURING {during}")
    if clauses:
        q += " WHERE " + " AND ".join(clauses)
    if limit:
        q += f" LIMIT {limit}"
    return q


# ----------------------------------------------------------- report fetchers
def report_to_fact_table(
    spark: SparkSession,
    client: RestClient,
    base_url: str,
    dimensions: list[str],
    metrics: list[str],
    rows_per_page: int = 1000,
) -> DataFrame:
    """GA4/Matomo-shape report fetch (reference
    sources/google_analytics/helpers/data_processing.py:54-137): the API
    returns a pre-aggregated report as parallel dimension/metric value
    arrays; rows are assembled by zipping headers x values and land as a
    typed fact table (metrics double, dimensions string)."""
    schema = ", ".join([f"{d} string" for d in dimensions] + [f"{m} double" for m in metrics])
    ep = RestEndpoint(
        f"{base_url}/runReport",
        params={"dimensions": ",".join(dimensions), "metrics": ",".join(metrics)},
        records_path="rows",
        paginator=OffsetPaginator(limit=rows_per_page),
    )

    def assemble(r: dict) -> dict:
        out = dict(zip(dimensions, [v["value"] for v in r["dimensionValues"]]))
        out.update(zip(metrics, [float(v["value"]) for v in r["metricValues"]]))
        return out

    return fetch_to_dataframe(spark, client, ep, schema, transform=assemble)


# ------------------------------------------------------------------- github
def github_events(
    spark: SparkSession,
    client: RestClient,
    base_url: str,
    repo: str,
) -> DataFrame:
    """Repo events with Link-header pagination; the ``type`` column is the
    table-routing key (one table per event type downstream via
    operators.routing.route_by_column)."""
    ep = RestEndpoint(
        f"{base_url}/repos/{repo}/events",
        records_path="data",
        paginator=HeaderLinkPaginator(),
    )
    return fetch_to_dataframe(
        spark, client, ep, "id string, type string, actor string, created_at string"
    )


# -------------------------------------------------------------------- slack
def slack_thread_replies(
    messages: DataFrame,
    make_client,
    base_url: str,
    reply_schema: str = "channel string, thread_ts string, ts string, user string, text string",
) -> DataFrame:
    """Thread replies for every threaded message (reference
    sources/slack/__init__.py:158-180): messages with a non-NULL
    ``thread_ts`` each fan out one ``conversations.replies`` call; the API
    echoes the parent message as the first reply item (the reference drops
    it with ``page_data[1:]``), expressed here relationally as
    ``ts != thread_ts``. Fetches run executor-side (fetch_distributed) —
    thread keys never collect to the driver."""
    threads = (
        messages.filter(F.col("thread_ts").isNotNull())
        .select("channel", "thread_ts")
        .distinct()
    )
    replies = fetch_distributed(
        threads,
        make_client,
        lambda p: RestEndpoint(
            f"{base_url}/conversations.replies",
            params={"channel": p["channel"], "ts": p["thread_ts"]},
            records_path="messages",
        ),
        reply_schema,
        transform=lambda rec, p: {**rec, "channel": p["channel"], "thread_ts": p["thread_ts"]},
    )
    return replies.filter(F.col("ts") != F.col("thread_ts"))


def slack_replies_with_parent(messages: DataFrame, replies: DataFrame) -> DataFrame:
    """The thread self-join shape: each reply row enriched with its parent
    message's user/text by equi-joining replies.(channel, thread_ts) to
    messages.(channel, ts). Shuffles once on (channel, ts); at scale both
    sides hash-partition on the same key, and a bucketed messages table
    makes it shuffle-free."""
    parents = messages.select(
        "channel",
        F.col("ts").alias("thread_ts"),
        F.col("user").alias("parent_user"),
        F.col("text").alias("parent_text"),
    )
    return replies.join(parents, ["channel", "thread_ts"], "left")


# ------------------------------------------------------------------- matomo
def _chunked_lookup(
    ids: DataFrame,
    make_client,
    request,
    chunk_size: int,
    schema: str,
) -> DataFrame:
    """Batch-API lookup: the ids in ``ids``' one column, ``chunk_size``
    at a time, each chunk one ``request(chunk) -> RestEndpoint`` call,
    executor-side in a ``map_batches`` stage over ``sizing.spread(ids)``.
    A chunk is cut inside one Arrow batch: chunk membership is an
    API-efficiency detail, not a semantic grouping, so no driver collect
    and no global ordering is needed.  Each task builds one client at
    its first batch."""
    fields = T.StructType.fromDDL(schema).fieldNames()
    client = None

    def lookup(batch):
        nonlocal client
        if client is None:
            client = make_client()
        keys = [str(v) for v in batch.column(0).to_pylist()]
        records = [
            r
            for i in range(0, len(keys), chunk_size)
            for r in client.records(request(keys[i:i + chunk_size]))
        ]
        return {f: [r.get(f) for r in records] for f in fields}

    return map_batches(sizing.spread(ids), lookup, schema)


def matomo_visitors_batch_lookup(
    visits: DataFrame,
    make_client,
    base_url: str,
    site_id: int,
    chunk_size: int = 20,
    visitor_schema: str = "visitorId string, visits long, country string",
) -> DataFrame:
    """Unique-visitor profile lookup in id batches (reference
    sources/matomo/__init__.py:193-230: visitor ids from the visits feed
    are chunked ``chunk_size`` at a time into one API call each, to avoid
    too-long URLs). Spark-first: distinct ids stay a DataFrame and are
    chunked executor-side (``_chunked_lookup``)."""
    return _chunked_lookup(
        visits.select("visitorId").distinct(),
        make_client,
        lambda chunk: RestEndpoint(
            f"{base_url}/visitors.batch",
            params={"idSite": site_id, "visitorIds": ",".join(chunk)},
            records_path="data",
        ),
        chunk_size,
        visitor_schema,
    )


def matomo_visits_enriched(visits: DataFrame, visitors: DataFrame) -> DataFrame:
    """Visits ⋈ visitor profiles on visitorId (merge-disposition lookup
    join; the visitors side is per-id deduped so a broadcast works when
    the id set is small)."""
    return visits.join(visitors, "visitorId", "left")


# --------------------------------------------------------------- salesforce
def salesforce_bulk_query(
    spark: SparkSession,
    client,
    base_url: str,
    soql: str,
    schema: str,
) -> DataFrame:
    """Salesforce Bulk-API job flow (reference
    sources/salesforce/helpers/records.py:85-121): submit the query as an
    async job, poll to completion, page the results; if the org has the
    Async API disabled (``FeatureNotEnabled``), fall back to the standard
    sync SOQL endpoint with ``done``/``nextRecordsUrl`` paging — exactly
    the reference's try/except structure."""
    from verified_sources_spark.sources.rest import (
        CursorPaginator,
        RestEndpoint,
        TransportError,
        fetch_to_dataframe,
        poll_async_job,
    )

    try:
        result_url, _status = poll_async_job(
            client,
            f"{base_url}/jobs/query",
            {"q": soql},
            status_path="state",
            done_value="JobComplete",
            failed_value="Failed",
            job_url_path="job_url",
        )
        ep = RestEndpoint(
            result_url,
            records_path="records",
            paginator=CursorPaginator(cursor_path="nextLocator", cursor_param="locator"),
        )
        return fetch_to_dataframe(spark, client, ep, schema)
    except TransportError as e:
        if "FeatureNotEnabled" not in str(e):
            raise
        ep = RestEndpoint(
            f"{base_url}/query",
            params={"q": soql},
            records_path="records",
            paginator=CursorPaginator(cursor_path="nextRecordsUrl", more_path=None),
        )
        return fetch_to_dataframe(spark, client, ep, schema)


# ----------------------------------------------------- google analytics (GA4)
def ga4_metadata_tables(
    spark: SparkSession,
    client,
    base_url: str,
    property_id: str,
) -> dict[str, DataFrame]:
    """GA4 metadata dimension tables (reference
    sources/google_analytics/__init__.py:120-153): one ``/metadata`` call
    fans out into two replace-disposition tables, ``metrics`` and
    ``dimensions``, one row per metric/dimension dict."""
    from verified_sources_spark.sources.rest import RestEndpoint

    ep = RestEndpoint(f"{base_url}/properties/{property_id}/metadata", records_path=None)
    body, _hdrs = client._request(ep.url, dict(ep.params))
    schema = "api_name string, ui_name string, category string"
    metrics = spark.createDataFrame(
        [
            {"api_name": m.get("apiName"), "ui_name": m.get("uiName"), "category": m.get("category")}
            for m in body.get("metrics", [])
        ]
        or [],
        schema,
    )
    dims = spark.createDataFrame(
        [
            {"api_name": d.get("apiName"), "ui_name": d.get("uiName"), "category": d.get("category")}
            for d in body.get("dimensions", [])
        ]
        or [],
        schema,
    )
    return {"metrics": metrics, "dimensions": dims}


# ------------------------------------------------------------------ hubspot
def chunk_props_by_joined_length(props: list[str], max_length: int) -> list[list[str]]:
    """Split a property list so each chunk's comma-joined length stays
    ≤ max_length (reference sources/hubspot/utils.py:14-26 — the API caps
    the ``properties=`` query-string length)."""
    chunks: list[list[str]] = []
    cur: list[str] = []
    length = 0
    for prop in props:
        plen = len(prop) + (1 if cur else 0)
        if length + plen > max_length and cur:
            chunks.append(cur)
            cur, length = [prop], len(prop)
        else:
            cur.append(prop)
            length += plen
    if cur:
        chunks.append(cur)
    return chunks


def select_hubspot_props(
    requested: list[str], available: dict[str, str], include_custom: bool = True
) -> list[str]:
    """The reference's property-selection rule (hubspot/__init__.py:442-481):
    requesting everything honors ``include_custom``; a partial request
    errors on unknown props and unions customs when asked (custom = not
    ``hs_``-prefixed)."""
    req, avail = set(requested), set(available)
    custom = {p for p in avail if not p.startswith("hs_")}
    if req == avail:
        selected = avail if include_custom else avail - custom
    else:
        unknown = req - avail
        if unknown:
            raise ValueError(f"requested props {sorted(unknown)} don't exist in the source")
        selected = req | custom if include_custom else req
    return sorted(selected)


def hubspot_props_chunk_union(
    spark: SparkSession,
    client,
    base_url: str,
    object_type: str,
    props: list[str],
    max_props_length: int = 100,
) -> DataFrame:
    """Wide-object fetch where the property list exceeds one request
    (reference sources/hubspot/__init__.py:245-252): fetch the object
    pages once per property chunk, then merge the chunks back to one row
    per object id. Spark-first merge: each chunk lands as
    (id, properties map); the union groups by id and concatenates the
    disjoint maps — one shuffle on id, no driver-side stitching."""
    from verified_sources_spark.sources.rest import OffsetPaginator, RestEndpoint, fetch_to_dataframe

    chunk_frames = []
    for chunk in chunk_props_by_joined_length(props, max_props_length):
        ep = RestEndpoint(
            f"{base_url}/crm/v3/objects/{object_type}",
            params={"properties": ",".join(sorted(chunk)), "limit": 100},
            records_path="results",
            paginator=OffsetPaginator(limit=100),
        )
        chunk_frames.append(
            fetch_to_dataframe(
                spark, client, ep, "id string, properties map<string,string>"
            )
        )
    if not chunk_frames:
        return spark.createDataFrame([], "id string, properties map<string,string>")
    unioned = chunk_frames[0]
    for f in chunk_frames[1:]:
        unioned = unioned.unionByName(f)
    return unioned.groupBy("id").agg(
        F.map_from_entries(
            F.array_sort(F.flatten(F.collect_list(F.map_entries("properties"))))
        ).alias("properties")
    )


# ----------------------------------------------------- zendesk protocol matrix
def zendesk_endpoint_matrix(base_url: str) -> dict[str, "RestEndpoint"]:
    """The reference's four Zendesk pagination protocols as ONE connector
    config (reference sources/zendesk/helpers/talk_api.py:14-18, 84-116 —
    PaginationType.{OFFSET, CURSOR, STREAM, START_TIME}), each mapped to
    an engine paginator:

    - OFFSET     → follow absolute ``next_page`` until absent
    - CURSOR     → ``links.next`` guarded by ``meta.has_more``
    - STREAM     → follow ``next_page`` until ``end_of_stream`` is true
    - START_TIME → follow ``next_page`` while ``count`` > 0
    """
    from verified_sources_spark.sources.rest import CursorPaginator

    return {
        "calls": RestEndpoint(  # OFFSET
            f"{base_url}/api/v2/channels/voice/calls",
            records_path="calls",
            paginator=CursorPaginator(cursor_path="next_page"),
        ),
        "tickets": RestEndpoint(  # CURSOR
            f"{base_url}/api/v2/tickets",
            params={"page[size]": 100},
            records_path="tickets",
            paginator=CursorPaginator(cursor_path="links.next", more_path="meta.has_more"),
        ),
        "ticket_events": RestEndpoint(  # STREAM
            f"{base_url}/api/v2/incremental/ticket_events",
            params={"per_page": 1000},
            records_path="ticket_events",
            paginator=CursorPaginator(cursor_path="next_page", stop_path="end_of_stream"),
        ),
        "legs": RestEndpoint(  # START_TIME
            f"{base_url}/api/v2/channels/voice/legs/incremental",
            params={"limit": 1000},
            records_path="legs",
            paginator=CursorPaginator(cursor_path="next_page", more_path="count"),
        ),
    }


# ----------------------------------------------------------- bing webmaster
def bing_page_stats(
    spark: SparkSession,
    client: RestClient,
    base_url: str,
    site_url: str,
    schema: str = "site_url string, page string, date string, clicks long, impressions long",
) -> DataFrame:
    """Bing Webmaster page stats with the reference's COMPOSITE merge key
    (reference sources/bing_webmaster/__init__.py:38-63: primary_key =
    ("site_url", "page", "Date"), merge disposition): one unpaginated call
    per site, rows tagged with the site; dedup/merge downstream is
    ``merge_dataframes(keys=["site_url", "page", "date"])``."""
    from verified_sources_spark.sources.rest import fetch_to_dataframe

    ep = RestEndpoint(
        f"{base_url}/GetPageStats",
        params={"siteUrl": site_url},
        records_path="d",
    )
    return fetch_to_dataframe(
        spark, client, ep, schema, transform=lambda r: {**r, "site_url": site_url}
    )


BING_PAGE_STATS_MERGE_KEYS = ("site_url", "page", "date")


# ------------------------------------------------- shopify partner (GraphQL)
def shopify_partner_graphql_records(
    client: RestClient,
    url: str,
    query: str,
    records_path: str = "data.transactions.edges",
    cursor_field: str = "cursor",
    cursor_var: str = "after",
    variables: dict[str, Any] | None = None,
):
    """Shopify Partner GraphQL pagination (reference
    sources/shopify_dlt/helpers.py:104-145): run the query, yield the edge
    list, feed the LAST edge's cursor back as the pagination variable;
    stop when a page has no items or no cursors. Generator of edge dicts
    — land with ``spark.createDataFrame`` or ``records_to_json_df``."""
    from verified_sources_spark.sources.rest import _json_path

    variables = dict(variables or {})
    while True:
        body, _hdrs = client._request(url, {"query": query, **variables})
        items = _json_path(body, records_path) or []
        if not items:
            return
        yield from items
        cursors = [it[cursor_field] for it in items if it.get(cursor_field)]
        if not cursors:
            return
        variables[cursor_var] = cursors[-1]


# ---------------------------------------------------------------- google ads
GOOGLE_ADS_DEFAULT_REPORTS: dict[str, str] = {
    # the reference's four fixed GAQL resources
    # (sources/google_ads/__init__.py:95-160)
    "customers": "SELECT customer.id, customer.descriptive_name FROM customer",
    "campaigns": "SELECT campaign.id, campaign.labels FROM campaign",
    "change_events": (
        "SELECT change_event.change_date_time FROM change_event "
        "WHERE change_event.change_date_time during LAST_14_DAYS LIMIT 1000"
    ),
    "customer_clients": "SELECT customer_client.status FROM customer_client",
}


def google_ads_report(
    spark: SparkSession,
    client: RestClient,
    base_url: str,
    customer_id: str,
    gaql: str,
    schema: str,
) -> DataFrame:
    """One GAQL report via searchStream-style paging (reference
    sources/google_ads/__init__.py:95-160: each resource is a fixed GAQL
    query against the service, streamed in batches): the query is pushed
    down server-side; batches page via nextPageToken."""
    from verified_sources_spark.sources.rest import CursorPaginator, fetch_to_dataframe

    ep = RestEndpoint(
        f"{base_url}/v/customers/{customer_id}/googleAds:searchStream",
        params={"query": gaql},
        records_path="results",
        paginator=CursorPaginator(cursor_path="nextPageToken", cursor_param="pageToken"),
    )
    return fetch_to_dataframe(spark, client, ep, schema)


# --------------------------------------------------------------------- jira
def jira_issues(
    spark: SparkSession,
    client: RestClient,
    base_url: str,
    jql: str,
    schema: str,
    use_token_paging: bool = False,
) -> DataFrame:
    """Jira search with the DUAL pagination protocol (reference
    sources/jira/__init__.py + settings: classic ``startAt`` offset pages
    vs the newer ``nextPageToken`` cursor API) — one shape, paginator
    chosen by endpoint generation; JQL is the pushed-down predicate."""
    from verified_sources_spark.sources.rest import (
        CursorPaginator,
        OffsetPaginator,
        fetch_to_dataframe,
    )

    paginator = (
        CursorPaginator(cursor_path="nextPageToken", cursor_param="nextPageToken")
        if use_token_paging
        else OffsetPaginator(limit=50, offset_param="startAt", limit_param="maxResults")
    )
    ep = RestEndpoint(
        f"{base_url}/rest/api/3/search",
        params={"jql": jql},
        records_path="issues",
        paginator=paginator,
    )
    return fetch_to_dataframe(spark, client, ep, schema)


# ----------------------------------------------------------------- airtable
AIRTABLE_TYPE_MAP: dict[str, str] = {
    # airtable field type -> Spark SQL type (reflection contract; the
    # reference reflects pyairtable's schema, airtable/__init__.py:29-57)
    "singleLineText": "string",
    "multilineText": "string",
    "richText": "string",
    "email": "string",
    "url": "string",
    "phoneNumber": "string",
    "singleSelect": "string",
    "number": "double",
    "percent": "double",
    "currency": "double",
    "rating": "int",
    "checkbox": "boolean",
    "date": "date",
    "dateTime": "timestamp",
    "autoNumber": "long",
}


def airtable_base_tables(
    spark: SparkSession,
    client: RestClient,
    base_url: str,
    base_id: str,
    table_names: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Reflected-schema base load (reference airtable/__init__.py:29-57):
    one metadata call lists the base's tables with field types and the
    primary field; each selected table loads with an explicit StructType
    derived from AIRTABLE_TYPE_MAP (never schema-on-read guessing), and
    the primary field name travels as the merge key hint."""
    from verified_sources_spark.sources.rest import CursorPaginator, fetch_to_dataframe

    meta, _hdrs = client._request(f"{base_url}/meta/bases/{base_id}/tables", {})
    out: dict[str, DataFrame] = {}
    for t in meta.get("tables", []):
        if table_names and t["id"] not in table_names and t["name"] not in table_names:
            continue
        fields = [(f["name"], AIRTABLE_TYPE_MAP.get(f["type"], "string")) for f in t["fields"]]
        schema = "id string, " + ", ".join(f"`{n}` {ty}" for n, ty in fields)
        ep = RestEndpoint(
            f"{base_url}/{base_id}/{t['id']}",
            records_path="records",
            paginator=CursorPaginator(cursor_path="offset", cursor_param="offset"),
        )
        df = fetch_to_dataframe(
            spark, client, ep, schema,
            transform=lambda r: {"id": r["id"], **r.get("fields", {})},
        )
        pk = next((f["name"] for f in t["fields"] if f["id"] == t.get("primaryFieldId")), None)
        out[t["name"]] = df
        if pk is not None:
            # merge-key hint the dispositions consume (primary field)
            out[t["name"]] = df.withColumn("_merge_key", F.lit(pk))
    return out


# ------------------------------------------------------------------- notion
def notion_search(
    spark: SparkSession,
    client: RestClient,
    base_url: str,
    query: str,
    object_filter: str | None = None,
    schema: str = "id string, object string, last_edited_time string",
) -> DataFrame:
    """Notion search with start_cursor/has_more paging (reference
    sources/notion/helpers/client.py:106-145); the object filter is
    pushed into the request."""
    from verified_sources_spark.sources.rest import CursorPaginator, fetch_to_dataframe

    params: dict[str, Any] = {"query": query}
    if object_filter:
        params["filter[value]"] = object_filter
    ep = RestEndpoint(
        f"{base_url}/v1/search",
        params=params,
        records_path="results",
        paginator=CursorPaginator(
            cursor_path="next_cursor", cursor_param="start_cursor", more_path="has_more"
        ),
    )
    return fetch_to_dataframe(spark, client, ep, schema)


# ------------------------------------------------------------- facebook ads
def facebook_batch_enrich(
    objects: DataFrame,
    make_client,
    base_url: str,
    fields: list[str],
    id_col: str = "id",
    chunk_size: int = 50,
    enrich_schema: str | None = None,
) -> DataFrame:
    """Batch-API object enrichment (reference
    sources/facebook_ads/helpers.py:90-128: ``enrich_ad_objects`` queues
    one ``api_get`` per object into a Facebook batch request and merges
    each response into its item). Spark-first: distinct object ids are
    chunked executor-side into batch calls (one request per
    ``chunk_size`` ids, ``_chunked_lookup``), the per-id field payloads
    land as a DataFrame, and the merge-into-item step is a left join —
    the base rows never leave the cluster."""
    if enrich_schema is None:
        enrich_schema = f"{id_col} string, " + ", ".join(f"{f} string" for f in fields)
    field_list = ",".join(sorted(fields))
    enrich = _chunked_lookup(
        objects.select(id_col).distinct(),
        make_client,
        lambda chunk: RestEndpoint(
            f"{base_url}/batch",
            params={"ids": ",".join(chunk), "fields": field_list},
            records_path="data",
        ),
        chunk_size,
        enrich_schema,
    )
    return objects.join(enrich, id_col, "left")


# ------------------------------------------------- matomo report processing
def matomo_process_report(body) -> list[dict]:
    """Normalize a Matomo report response into rows (reference
    sources/matomo/helpers/data_processing.py:12-43): a date-keyed dict
    maps each key's list (or single dict) to rows tagged with that date;
    a plain list is returned as-is (caller supplies the date); anything
    else is a scalar report returned unchanged. Runs on ONE API response
    (response-sized, before landing) — everything after createDataFrame
    is relational."""
    out: list[dict] = []
    if isinstance(body, dict):
        for key, value in body.items():
            if isinstance(value, list):
                for el in value:
                    out.append({**el, "date": key})
            elif isinstance(value, dict):
                out.append({**value, "date": key})
            else:
                return [body]
        return out
    return [dict(v) for v in body]


def matomo_report_to_rows(spark: SparkSession, body, schema: str) -> DataFrame:
    return spark.createDataFrame(matomo_process_report(body), schema)


def matomo_remove_active_visits(
    visits: DataFrame,
    visit_timeout_seconds: int,
    visit_max_duration_seconds: int,
    now_ts: float,
    order_col: str = "idx",
) -> DataFrame:
    """Drop possibly-still-open visits (reference data_processing.py:46-76):
    the reference walks the visit list and cuts off at the LAST active
    visit, discarding it and everything earlier. Relationally: the cutoff
    is max(order) over active rows (a scalar agg — metadata-sized), and
    the filter keeps strictly later rows."""
    active = (
        (F.lit(now_ts) - F.col("lastActionTimestamp") < visit_timeout_seconds)
        & (F.lit(now_ts) - F.col("firstActionTimestamp") < visit_max_duration_seconds)
    )
    cutoff = visits.filter(active).agg(F.max(order_col).alias("m")).first()["m"]
    if cutoff is None:
        return visits
    return visits.filter(F.col(order_col) > F.lit(cutoff))


# ------------------------------------------------------------------ workable
# reference sources/workable/settings.py:4-30 — list endpoints load in
# replace mode (no updated_at in their payloads); candidates alone is
# incremental on updated_at; dependent details hang off jobs (by
# shortcode, replace) and candidates (by id, append)
WORKABLE_LIST_ENDPOINTS = (
    "members", "recruiters", "stages", "requisitions", "jobs",
    "custom_attributes", "events",
)
WORKABLE_DETAILS = {
    "candidates": ("activities", "offer"),
    "jobs": ("activities", "application_form", "questions", "stages",
             "custom_attributes", "members", "recruiters"),
}
WORKABLE_DETAIL_KEYS = {"candidates": "id", "jobs": "shortcode"}
WORKABLE_DETAIL_DISPOSITIONS = {"candidates": "append", "jobs": "replace"}


def workable_endpoints(
    base_url: str,
    created_after: str | None = None,
    updated_after: str | None = None,
    limit: int = 100,
) -> dict[str, "RestEndpoint"]:
    """Workable connector config (reference sources/workable/
    __init__.py:30-90, workable_client.py:59-97): every endpoint's
    records live under a body key NAMED like the endpoint, pagination
    follows the absolute ``paging.next`` URL, list endpoints filter on
    ``created_after`` while candidates resumes on ``updated_after`` —
    the one incremental resource the API supports."""
    from verified_sources_spark.sources.rest import CursorPaginator

    def ep(name: str, extra: dict) -> RestEndpoint:
        return RestEndpoint(
            f"{base_url}/{name}",
            params={"limit": limit, **{k: v for k, v in extra.items() if v}},
            records_path=name,
            paginator=CursorPaginator(cursor_path="paging.next"),
        )

    out = {
        n: ep(n, {"created_after": created_after})
        for n in WORKABLE_LIST_ENDPOINTS
    }
    out["candidates"] = ep("candidates", {"updated_after": updated_after})
    return out


def workable_details(
    spark: SparkSession,
    make_client,
    parent: DataFrame,
    main_endpoint: str,
    sub_endpoint: str,
    base_url: str,
    schema: str,
    **kwargs,
) -> DataFrame:
    """Dependent-details transformer (reference workable/__init__.py:
    92-120): one ``{base}/{main}/{code}/{sub}`` fetch per parent row,
    keyed by id (candidates) or shortcode (jobs), children tagged with
    the parent key — the engine's chained_detail_fetch shape, fetched on
    executors."""
    key = WORKABLE_DETAIL_KEYS[main_endpoint]
    return chained_detail_fetch(
        spark, make_client, parent, key,
        f"{base_url}/{main_endpoint}/{{key}}/{sub_endpoint}",
        schema, records_path=sub_endpoint, **kwargs,
    )


# ----------------------------------------------------------------- freshdesk
# reference sources/freshdesk/settings.py:9 + __init__.py:39-76: every
# endpoint merges on primary_key=id with an updated_at incremental
FRESHDESK_ENDPOINTS = ("agents", "companies", "contacts", "groups", "roles", "tickets")
FRESHDESK_PRIMARY_KEY = "id"
FRESHDESK_CURSOR = ("updated_at", "2022-01-01T00:00:00Z")


def freshdesk_endpoints(
    base_url: str, per_page: int = 100, updated_since: str | None = None
) -> dict[str, "RestEndpoint"]:
    """Freshdesk connector config (reference freshdesk_client.py:66-102):
    page-number pagination (stop on the first empty page), bare-array
    bodies, and the per-endpoint incremental quirk — only tickets and
    contacts accept a server-side updated-since filter, under DIFFERENT
    param names (``updated_since`` vs ``_updated_since``); the other
    endpoints re-read and rely on merge-on-id to dedup.  The 429
    Retry-After handling lives in the shared RestClient."""
    from verified_sources_spark.sources.rest import PageNumberPaginator

    incr_param = {"tickets": "updated_since", "contacts": "_updated_since"}
    out = {}
    for name in FRESHDESK_ENDPOINTS:
        params: dict[str, Any] = {"per_page": per_page}
        if updated_since is not None and name in incr_param:
            params[incr_param[name]] = updated_since
        out[name] = RestEndpoint(
            f"{base_url}/{name}",
            params=params,
            records_path=".",  # body IS the record array
            paginator=PageNumberPaginator(),
        )
    return out


# ------------------------------------------------------------------ personio
def personio_employee_rows(items: list[dict]) -> list[dict]:
    """The reference's employee attribute flatten (reference
    sources/personio/__init__.py:54-68): each employee arrives as
    ``{"attributes": {<key>: {universal_id, label, type, value}}}``;
    columns take the ``universal_id`` name, falling back to the
    lowercased label with spaces as underscores, and date-typed values
    coerce to timezone-aware datetimes.  Pure function — feed the rows
    to ``records_to_json_df`` / createDataFrame."""
    import datetime as _dt

    out = []
    for item in items:
        row: dict[str, Any] = {}
        for v in (item.get("attributes") or {}).values():
            name = v.get("universal_id")
            if not name:
                name = str(v.get("label", "")).replace(" ", "_").lower()
            val = v.get("value")
            if v.get("type") == "date" and val:
                val = _dt.datetime.fromisoformat(
                    str(val).replace("Z", "+00:00")
                )
                if val.tzinfo is None:
                    val = val.replace(tzinfo=_dt.timezone.utc)
            row[name] = val
        out.append(row)
    return out


def personio_employees_endpoint(
    base_url: str, updated_since: str | None = None, limit: int = 200
) -> "RestEndpoint":
    """Personio employees (reference personio/__init__.py:40-76,
    helpers.py:38-85): offset/limit pagination under ``data``, with the
    incremental ``updated_since`` rendered as ``YYYY-MM-DDTHH:mm:ss``."""
    params: dict[str, Any] = {"limit": limit}
    if updated_since is not None:
        params["updated_since"] = updated_since
    return RestEndpoint(
        f"{base_url}/company/employees",
        params=params,
        records_path="data",
        paginator=OffsetPaginator(limit=limit),
    )


# ---------------------------------------------------------------------- mux
MUX_DISPOSITIONS = {"assets": "merge", "views": "append"}


def mux_endpoints(
    base_url: str, limit: int = 100, view_window: tuple[int, int] | None = None
) -> dict[str, "RestEndpoint"]:
    """Mux connector config (reference sources/mux/__init__.py:27-85):
    ``assets`` is one unpaginated list call (merge on id); ``views`` is
    page-number paginated over yesterday's ``timeframe[]`` window
    (append — views are immutable events).  Both authenticate with HTTP
    basic (token/secret) at the transport."""
    from verified_sources_spark.sources.rest import (
        PageNumberPaginator,
        SinglePagePaginator,
    )

    views_params: dict[str, Any] = {"limit": limit}
    if view_window is not None:
        views_params["timeframe[]"] = list(view_window)
    return {
        "assets": RestEndpoint(
            f"{base_url}/video/v1/assets",
            params={"limit": limit},
            records_path="data",
            paginator=SinglePagePaginator(),
        ),
        "views": RestEndpoint(
            f"{base_url}/data/v1/video-views",
            params=views_params,
            records_path="data",
            paginator=PageNumberPaginator(),
        ),
    }


# -------------------------------------------------------------------- strapi
def strapi_endpoints(
    base_url: str, endpoints: list[str], page_size: int = 25
) -> dict[str, "RestEndpoint"]:
    """Strapi collections (reference sources/strapi/helpers.py:10-46):
    ``pagination[start]``/``pagination[limit]`` offset pages under
    ``data``, replace disposition per collection (the API exposes no
    change cursor)."""
    return {
        name: RestEndpoint(
            f"{base_url}/api/{name}",
            params={"pagination[withCount]": 1},
            records_path="data",
            paginator=OffsetPaginator(
                limit=page_size,
                offset_param="pagination[start]",
                limit_param="pagination[limit]",
            ),
        )
        for name in endpoints
    }


# ------------------------------------------------------------------- pokemon
def pokemon_endpoints(base_url: str = "https://pokeapi.co/api/v2") -> dict[str, "RestEndpoint"]:
    """The reference's starter source (sources/pokemon/__init__.py:15-32):
    two replace-mode list resources under ``results``."""
    from verified_sources_spark.sources.rest import SinglePagePaginator

    return {
        "berries": RestEndpoint(
            f"{base_url}/berry", records_path="results",
            paginator=SinglePagePaginator(),
        ),
        "pokemon": RestEndpoint(
            f"{base_url}/pokemon", records_path="results",
            paginator=SinglePagePaginator(),
        ),
    }
