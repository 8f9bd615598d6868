"""Independent output checks, computed by DuckDB over the staged files.

The sink totals mirror the canonical config (logspark.config.canonical_config)
with hand-written regexes for the two grok patterns, restricted to what the
synthetic log lines can contain:

- parsed: the tool-log or the apache pattern matches at the start of `text`;
- errors: the tool-log pattern matches and its `status` capture is 'err';
- raw:    neither pattern matches (the grok failure tag).
"""

from __future__ import annotations

import duckdb

TOOL_LOG = (
    r'^\[[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}Z\] '
    r'(INFO|WARN|ERROR|DEBUG) tool=[A-Za-z0-9_]+ latency_ms=[+-]?[0-9]+ '
    r'status=([A-Za-z0-9_]+) msg="'
)
APACHE = (
    r'^[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3} - - '
    r'\[[0-9]{2}/[A-Za-z]{3}/[0-9]{4}:[0-9]{2}:[0-9]{2}:[0-9]{2} [+-][0-9]{4}\] '
    r'"[A-Za-z0-9_]+ /[^ ]* HTTP/[0-9.]+" [0-9]+ [0-9]+'
)


def sink_totals(files: list[str]) -> dict[str, int]:
    """Expected {sink: rows} of one pipeline run over `files`."""
    con = duckdb.connect()
    try:
        lst = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        parsed, errors, raw = con.execute(
            f"""
            WITH t AS (
              SELECT regexp_matches(text, '{TOOL_LOG}') AS tool,
                     regexp_matches(text, '{APACHE}') AS apache,
                     regexp_extract(text, '{TOOL_LOG}', 2) AS status
              FROM read_parquet([{lst}])
            )
            SELECT count(*) FILTER (WHERE tool OR apache),
                   count(*) FILTER (WHERE tool AND status = 'err'),
                   count(*) FILTER (WHERE NOT (tool OR apache))
            FROM t
            """
        ).fetchone()
    finally:
        con.close()
    return {k: int(v) for k, v in {"parsed": parsed, "errors": errors, "raw": raw}.items() if v}


def add_counts(a: dict[str, int], b: dict[str, int]) -> dict[str, int]:
    return {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b)}

