from .tables import load_table  # noqa: F401
