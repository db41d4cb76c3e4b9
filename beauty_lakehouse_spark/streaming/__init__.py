"""Structured Streaming pipelines (SURVEY.md §2.8 / §7 M4).

The reference is batch-only; this package is the north-star extension:
the same event-time transformations as ``operators.events``, expressed
over ``readStream`` with watermarks, with batch-equivalence asserted in
``tests/test_streaming.py`` (availableNow drains the parquet fixture
exactly once, so streaming output == batch output).
"""

from .pipelines import (  # noqa: F401
    cms_user_cells,
    dedup_group_table,
    dsir_doc_bucket_counts,
    dedup_events_stream,
    hll_register_stream,
    hourly_user_hll_registers,
    hourly_event_counts,
    ks_value_grid,
    multires_minute_values,
    nb_token_counts,
    latest_event_table,
    order_stats_value_grid,
    orders_checksum_stream,
    orders_value_sketch,
    rate_capped_grid,
    rate_capped_grid_finish,
    run_available_now,
    session_values,
    stream_documents,
    stream_events,
    stream_orders,
    user_event_type_counts,
    view_purchase_attribution,
    view_purchase_join,
)
from .stateful import (  # noqa: F401
    km_firsts,
    km_firsts_finish,
    url_dedup_finish,
    url_dedup_state,
)
