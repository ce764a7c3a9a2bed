from .tables import TABLES, derived, reset_derived, spread, table  # noqa: F401
