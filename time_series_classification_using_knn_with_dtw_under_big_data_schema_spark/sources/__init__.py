from .parquet import (  # noqa: F401
    load_table,
    save_table,
    save_table_bucketed,
    save_table_partitioned,
    compact_parquet,
    upsert_partitions,
)
from .text_ingest import parse_series_text, cast_all, with_row_id  # noqa: F401
from .series import events_to_series, split_train_test  # noqa: F401
from .readers import read_csv, read_json, read_text  # noqa: F401
from .zorder import zorder_write, zvalue  # noqa: F401
from .index_io import save_index, load_index  # noqa: F401
