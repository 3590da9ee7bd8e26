from .tables import TABLE_NAMES, load_table

__all__ = ["TABLE_NAMES", "load_table"]
