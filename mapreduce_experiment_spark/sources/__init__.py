"""Sources: parquet table loaders and the reference-style edge-list reader."""

from .tables import load_table, register_views, derive_edges
from .edges import read_edge_list

__all__ = [
    "load_table",
    "register_views",
    "derive_edges",
    "read_edge_list",
]
