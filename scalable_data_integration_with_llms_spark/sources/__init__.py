from .readers import TABLES, load_table, load_tables

__all__ = ["TABLES", "load_table", "load_tables"]
