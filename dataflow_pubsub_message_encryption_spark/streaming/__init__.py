from .pipeline import (  # noqa: F401
    attribution_join_stream,
    attribution_join_stream_outer,
    decrypted_stream,
    events_file_stream,
    session_counts_stream,
    sliding_counts_stream,
    stateful_dedup_stream,
    windowed_counts_stream,
    write_parquet_sink,
    write_text_sink,
)
from .cdc import cdc_current_view, cdc_upsert_sink  # noqa: F401
from .versioned import versioned_upsert_sink  # noqa: F401
from .bitmap import bitmap_distinct_sink, bitmap_distinct_view  # noqa: F401
from .cms import cms_grid_view, cms_sketch_sink  # noqa: F401
from .stateful import running_user_census  # noqa: F401
from .stateful_v2 import running_top_purchases, session_timeout_summaries  # noqa: F401
