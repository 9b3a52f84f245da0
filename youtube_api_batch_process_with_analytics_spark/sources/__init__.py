from .partitioned import (  # noqa: F401
    read_events_day,
    write_events_day_partitioned,
)
from .tables import (  # noqa: F401
    TABLES,
    footer_rows,
    footer_schema,
    load_table,
    spread,
    spread_shuffled,
)
