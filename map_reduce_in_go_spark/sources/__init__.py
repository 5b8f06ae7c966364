from .tables import TABLES, load_table
from .text import read_lines, read_text_files

__all__ = [
    "TABLES",
    "load_table",
    "read_lines",
    "read_text_files",
]
