from data_warehouse_punta_fina_spark.sources.readers import (  # noqa: F401
    load_table,
    read_csv,
    read_jdbc,
    read_csv_tolerant,
    read_jsonl,
    read_jsonl_tolerant,
    read_orc,
    read_parquet,
)
from data_warehouse_punta_fina_spark.sources.generators import (  # noqa: F401
    date_range_source,
    literal_table,
    monthly_periods,
)
from data_warehouse_punta_fina_spark.sources.writers import (  # noqa: F401
    compact_parquet,
    write_bucketed,
    write_clustered,
    write_csv,
    write_jdbc,
    write_jsonl,
    write_orc,
    write_parquet,
    write_zordered,
)
from data_warehouse_punta_fina_spark.sources.txlog import CommitConflict, TxTable  # noqa: F401
