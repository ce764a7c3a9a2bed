from .tables import TABLES, spread, table  # noqa: F401
