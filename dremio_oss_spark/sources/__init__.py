"""Sources, formats, writers, and DML (SURVEY.md §2.3/§2.4)."""

from .formats import FormatRegistry
from .writer import copy_into, ctas, insert_into

__all__ = [
    "FormatRegistry",
    "copy_into",
    "ctas",
    "insert_into",
]
