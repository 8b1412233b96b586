from .csv import read_pipe_csv, read_mapping_csv
from .jsonl import read_jsonl, write_jsonl
from .parquet import read_table, write_table, load_tables

__all__ = [
    "read_pipe_csv",
    "read_mapping_csv",
    "read_jsonl",
    "write_jsonl",
    "read_table",
    "write_table",
    "load_tables",
]
