from .tpch import load_table  # noqa: F401
