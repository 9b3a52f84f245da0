from .partitioned import (  # noqa: F401
    read_events_day,
    write_events_day_partitioned,
)
from .tables import (  # noqa: F401
    TABLES,
    footer_rows,
    load_table,
    load_tables,
    register_views,
    spread,
    spread_shuffled,
)
