from .tables import load_table, TABLE_NAMES  # noqa: F401
