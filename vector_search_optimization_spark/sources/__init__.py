from .readers import (  # noqa: F401
    load_table,
    read_centroids_csv,
    read_chunks,
    spread_scan,
)
from .writers import write_csv, write_json, write_upsert  # noqa: F401
