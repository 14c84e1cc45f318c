"""Driver-side pipeline plans — the Spark re-architecture of the
reference's Lambda/Step-Functions pipeline (SURVEY.md §3)."""

from __future__ import annotations

from urllib.parse import urlparse
from urllib.request import url2pathname


def local_file_path(url: str) -> str:
    """The path ``open`` takes for a STAC/asset url: ``file://`` URIs are
    percent-decoded (``Path.as_uri()`` writes a space as ``%20``);
    scheme-less paths pass through unchanged."""
    parsed = urlparse(url)
    return url2pathname(parsed.path) if parsed.scheme == "file" else url
