from .tables import TABLE_NAMES, load_table, register_temp_views
from .text import read_lines_with_path, read_whole_files

__all__ = [
    "TABLE_NAMES",
    "load_table",
    "register_temp_views",
    "read_whole_files",
    "read_lines_with_path",
]
