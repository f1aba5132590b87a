from .tables import TESTDATA_TABLES, load_table

__all__ = ["TESTDATA_TABLES", "load_table"]
