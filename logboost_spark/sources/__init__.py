"""Input connectors (S1-S6): file-format readers with reference options."""

from .readers import read_csv, read_multiline_json, read_text  # noqa: F401
