"""Pipeline config: the reference's 3-section JSON shape (input/filter/output).

go-logagent configs look like (utils/config.go family — SURVEY.md §3.1):

    {"input":  [{"type": "file", ...}],
     "filter": [{"type": "grok", ...}, {"type": "patch", ...}],
     "output": [{"type": "file", "name": "parsed", "when": {...}}, ...]}

We keep that shape verbatim (plus optional "enrich" and "aggregate"
sections for the pinned broadcast-join and per-sink-counts stages) so
reference-style configs and test fixtures drop in unchanged. The input
section names exactly one table, `[{"type": "table", "table": <name>}]`:
the table a batch run reads its manifest-pending files from and a stream
tails. The output section names at least one sink. Every `when`
predicate (sinks, drop filters) uses only the documented clause keys of
functions/predicates.py. Configs that break any of these rules raise
ValueError at load, before any Spark job runs.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from logspark.functions.predicates import check_predicate


@dataclass
class PipelineConfig:
    input: list[dict] = field(default_factory=list)
    filter: list[dict] = field(default_factory=list)
    enrich: list[dict] = field(default_factory=list)
    output: list[dict] = field(default_factory=list)
    aggregate: dict = field(default_factory=lambda: {"bucket": "hour"})
    # write-layout knobs: {"files_per_sink": k} caps the routed write at
    # ~k files per sink (see plans/pipeline.write_sinks for the 100 TB
    # file-count math); default unset = shuffle-free dynamic-partition write
    write: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        match self.input:
            case [{"type": "table", "table": str()} as inp] if len(inp) == 2:
                pass
            case _:
                raise ValueError(
                    f'input must be exactly [{{"type": "table", "table": <name>}}], got {self.input}'
                )
        for e in self.filter:
            if "type" not in e:
                raise ValueError(f"filter entry missing 'type': {e}")
        if not self.output:
            raise ValueError("output must name at least one sink")
        for e in self.filter + self.output:
            check_predicate(e.get("when"))
        names = [o.get("name") for o in self.output]
        if any(n is None for n in names):
            raise ValueError("every output needs a 'name'")
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate output names: {names}")

    @classmethod
    def from_dict(cls, d: dict) -> "PipelineConfig":
        known = {"input", "filter", "enrich", "output", "aggregate", "write"}
        unknown = set(d) - known
        if unknown:
            raise ValueError(f"unknown config sections: {sorted(unknown)}")
        return cls(**{k: v for k, v in d.items() if k in known})

    @classmethod
    def load(cls, path: str) -> "PipelineConfig":
        with open(path) as f:
            text = f.read()
        if path.endswith((".yaml", ".yml")):
            import yaml

            try:
                d = yaml.safe_load(text)
            except yaml.YAMLError as e:  # malformed JSON is a ValueError already
                raise ValueError(f"{path}: {e}") from e
            return cls.from_dict(d)
        return cls.from_dict(json.loads(text))


def canonical_config(sink_dir: str | None = None) -> PipelineConfig:
    """The flagship pipeline over the transcripts table: grok-parse tool-log
    and apache lines, json-codec fallback, patch a day field, enrich on
    tool+role, route to parsed/errors/raw sinks, hourly per-sink counts."""
    return PipelineConfig.from_dict(
        {
            "input": [{"type": "table", "table": "transcripts"}],
            "filter": [
                {
                    "type": "grok",
                    "source": "text",
                    "match": [
                        r"\[%{TIMESTAMP_ISO8601:log_ts}\] %{LOGLEVEL:level} "
                        r"tool=%{WORD:tool_name} latency_ms=%{INT:latency_ms:int} "
                        r'status=%{WORD:status} msg="%{DATA:msg}"',
                        r"%{IPV4:clientip} - - \[%{HTTPDATE:http_ts}\] "
                        r'"%{WORD:verb} %{URIPATHPARAM:request} HTTP/%{NUMBER:httpversion}" '
                        r"%{NONNEGINT:response:int} %{NONNEGINT:bytes:int}",
                    ],
                    "add_tag": ["parsed"],
                },
                {
                    "type": "json",
                    "source": "text",
                    "schema": "event string, k long",
                    "tag_on_failure": False,
                },
                {
                    "type": "patch",
                    "fields": {"day": "%{+yyyy-MM-dd}", "route_key": "%{role}/%{tool}"},
                },
            ],
            "enrich": [
                {"dim": "tool_catalog", "key": "tool"},
                {"dim": "role_map", "key": "role"},
            ],
            "output": [
                {"name": "parsed", "when": {"tags_include": ["parsed"]}},
                {
                    "name": "errors",
                    "when": {"tags_include": ["parsed"], "field_equals": {"status": "err"}},
                },
                {"name": "raw", "when": {"tags_include": ["_grokparsefailure"]}},
            ],
            "aggregate": {"bucket": "hour"},
        }
    )
