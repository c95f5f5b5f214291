from data_warehouse_punta_fina_spark.streaming.dedup_stream import (  # noqa: F401
    dedup_ingest_batch,
)
from data_warehouse_punta_fina_spark.streaming.observer import ProgressLedger  # noqa: F401
from data_warehouse_punta_fina_spark.streaming.file_stream import (  # noqa: F401
    drain,
    read_file_stream,
    run_available_now,
    tumbling_window_agg,
)
