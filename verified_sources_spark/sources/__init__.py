"""Source connectors: filesystem, REST framework, SaaS connector shapes,
message streams, CDC (pgoutput decode + apply), inbox, spreadsheet grids.

Connectors produce DataFrames with explicit schemas and pushdown-style
options (predicates / column lists / cursor ranges) — the engine's
equivalent of the reference's ``@dlt.source`` packages.  IO against
remote APIs happens in the connector adapter (driver side, or on
executors through the Arrow boundary, ``boundary.map_rows`` /
``map_batches``); everything after that is a plain DataFrame.
"""
