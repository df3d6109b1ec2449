"""Source/sink surface of the engine (SURVEY §2.1).

The batch scans and sinks live in `..io` (harness parquet tables, CSV
securities master, the partitioned price layout and its idempotent
`upsert_prices`); the streaming file source and sink in
`..streaming.ingest`; this package re-exports them as the one place a
user wires data in or out, and adds the synthetic rate source
(`rate.tick_stream`) — the no-external-dependency stand-in for a live
tick feed (the reference's Yahoo poll, src/etl.py:24-43).
"""

from ..io import (  # noqa: F401
    read_csv_universe,
    read_prices_range,
    read_table,
    upsert_prices,
)
from ..streaming.ingest import (  # noqa: F401
    dedup_stream,
    read_price_stream,
    write_idempotent,
)
from .rate import tick_stream  # noqa: F401
