from .readers import load_table, read_transactions_csv  # noqa: F401
