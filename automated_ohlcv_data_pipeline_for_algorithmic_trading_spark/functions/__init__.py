from .candles import (  # noqa: F401
    clean_symbol,
    normalize_symbol,
    epoch_to_timestamp,
    iso_utc,
    price_change_cols,
    coalesce_aliases,
    epoch_any_unit,
)
from .timeparse import period_to_timedelta, interval_to_minutes  # noqa: F401
