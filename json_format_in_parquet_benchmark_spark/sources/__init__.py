"""Sources: the raw NDJSON scan (``ndjson``) and the Python data-source
reader (``py_datasource``)."""

from .ndjson import read_ndjson_raw  # noqa: F401
