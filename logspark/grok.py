"""Pure-Python grok pattern compiler (no Spark dependency).

Implements the grok semantics of go-logagent's grok filter
(reference: filter/grok/grokfilter.go — dir empty at build time; semantics
pinned by BASELINE.json north_star: "compile grok pattern libraries to
anchored regexes and apply them columnar-batch-wise over the text field").

Grok syntax (logstash-compatible, public knowledge):

    %{SYNTAX}                capture-less reference to a library pattern
    %{SYNTAX:name}           capture the match into field `name`
    %{SYNTAX:name:int}       capture + coerce to int   (null on bad parse)
    %{SYNTAX:name:float}     capture + coerce to float (null on bad parse)

Semantics implemented (FIXTURES.md §A3 "grok" rows):
- recursive pattern-library expansion with cycle detection
- ANCHORED matching: compiled regex is prefixed with `^`; a mid-string hit
  does not match (add `$` too with anchor="both")
- multiple match patterns → first-match-wins
- no match → caller adds the `_grokparsefailure` tag; captures stay unset
- typed captures coerce via pandas `to_numeric(errors="coerce")` — a capture
  that fails coercion becomes null ("leave field unset")

The compiler output is designed for columnar application:
`CompiledGrok.extract_pandas(pd.Series) -> pd.DataFrame` runs
`Series.str.extract` (C-speed) per pattern over the still-unmatched subset,
so the Spark layer can wrap it in a single Arrow-batched pandas UDF.
Regexes compile once per Python worker via the module-level cache.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import lru_cache

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# Built-in pattern library (logstash-standard core set, public knowledge)
# ---------------------------------------------------------------------------

BUILTIN_PATTERNS: dict[str, str] = {
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "INT": r"(?:[+-]?(?:[0-9]+))",
    "BASE10NUM": r"(?:[+-]?(?:[0-9]+(?:\.[0-9]+)?)|\.[0-9]+)",
    "NUMBER": r"(?:%{BASE10NUM})",
    "POSINT": r"\b(?:[1-9][0-9]*)\b",
    "NONNEGINT": r"\b(?:[0-9]+)\b",
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "QUOTEDSTRING": r'(?:"(?:[^"\\]|\\.)*"|\'(?:[^\'\\]|\\.)*\')',
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "IPV4": (
        r"(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}"
        r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)"
    ),
    "IPV6": r"(?:[0-9A-Fa-f]{0,4}:){2,7}[0-9A-Fa-f]{0,4}",
    "IP": r"(?:%{IPV6}|%{IPV4})",
    "HOSTNAME": r"\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*\.?\b",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "HOSTPORT": r"%{IPORHOST}:%{POSINT}",
    # dates / times
    "MONTH": r"\b(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|Jun(?:e)?|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|Nov(?:ember)?|Dec(?:ember)?)\b",
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHDAY": r"(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])",
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?)",
    "TIME": r"(?:%{HOUR}:%{MINUTE}(?::%{SECOND})?)",
    "DATE_US": r"%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU": r"%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE}))",
    "ISO8601_SECOND": r"(?:%{SECOND}|60)",
    "TIMESTAMP_ISO8601": (
        r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}[T ]%{HOUR}:?%{MINUTE}"
        r"(?::?%{SECOND})?%{ISO8601_TIMEZONE}?"
    ),
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    "LOGLEVEL": (
        r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|"
        r"[Ii]nfo(?:rmation)?|INFO(?:RMATION)?|[Ww]arn(?:ing)?|WARN(?:ING)?|"
        r"[Ee]rr(?:or)?|ERR(?:OR)?|[Cc]rit(?:ical)?|CRIT(?:ICAL)?|"
        r"[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|[Ee]merg(?:ency)?)"
    ),
    # uri
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_\-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
    "URIPATHPARAM": r"%{URIPATH}(?:%{URIPARAM})?",
    # composite apache
    "COMMONAPACHELOG": (
        r'%{IPORHOST:clientip} %{NOTSPACE:ident} %{NOTSPACE:auth} '
        r'\[%{HTTPDATE:timestamp}\] "(?:%{WORD:verb} %{NOTSPACE:request}'
        r'(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})" '
        r'%{NONNEGINT:response:int} (?:%{NONNEGINT:bytes:int}|-)'
    ),
}

_GROK_REF = re.compile(r"%\{(\w+)(?::([\w.\[\]@-]+))?(?::(int|float|long|double|string|str))?\}")

_INT_TYPES = {"int", "long"}
_FLOAT_TYPES = {"float", "double"}


class GrokError(ValueError):
    """Bad grok pattern: unknown %{NAME}, cycle, or regex syntax error."""


@dataclass(frozen=True)
class GrokField:
    """One named capture of a compiled pattern."""

    name: str  # semantic name as written in the pattern
    type: str  # "string" | "int" | "float"
    group: str  # sanitized python regex group name


@dataclass
class GrokPattern:
    """A single compiled grok pattern: regex + ordered typed captures."""

    source: str
    regex: re.Pattern
    fields: list[GrokField] = field(default_factory=list)

    def match(self, text: str) -> dict | None:
        """Match one string → {field: coerced value} or None. (Test/debug
        path; the hot path is CompiledGrok.extract_pandas.)"""
        if text is None:
            return None
        m = self.regex.search(text)
        if m is None:
            return None
        out: dict = {}
        for f in self.fields:
            raw = m.group(f.group)
            out[f.name] = _coerce_scalar(raw, f.type)
        return out


def _coerce_scalar(raw: str | None, typ: str):
    if raw is None:
        return None
    if typ == "int":
        try:
            return int(raw)
        except ValueError:
            return None
    if typ == "float":
        try:
            return float(raw)
        except ValueError:
            return None
    return raw


class GrokCompiler:
    """Expands %{NAME[:field[:type]]} references against a pattern library
    into a single anchored Python regex with named groups.

    Regex compilation happens once per (library, pattern) — the Spark layer
    holds compilers at module scope so each Python worker compiles once
    (SURVEY.md §4 "regex compile amortization").
    """

    def __init__(self, extra_patterns: dict[str, str] | None = None):
        self.library: dict[str, str] = dict(BUILTIN_PATTERNS)
        if extra_patterns:
            self.library.update(extra_patterns)

    def compile(self, pattern: str, anchor: str = "start") -> GrokPattern:
        """anchor: "start" (default, `^…`), "both" (`^…$`), "none"."""
        fields: list[GrokField] = []
        counter = [0]
        expanded = self._expand(pattern, fields, counter, stack=())
        # gALL wraps the whole pattern: one vectorized str.extract pass gives
        # BOTH the match indicator (gALL non-null) and every capture — no
        # separate contains() scan (hot-path optimization, extract_pandas).
        if anchor == "start":
            expanded = "^(?P<gALL>" + expanded + ")"
        elif anchor == "both":
            expanded = "^(?P<gALL>" + expanded + ")$"
        elif anchor == "none":
            expanded = "(?P<gALL>" + expanded + ")"
        else:
            raise GrokError(f"unknown anchor mode {anchor!r}")
        try:
            # re.ASCII: Python's Unicode \s includes \x1c-\x1f and \x85,
            # Java's default \s is [ \t\n\x0B\f\r].  ASCII mode makes
            # \s \S \w \d \b match the Java defaults exactly, so the pandas
            # engine agrees with the native (JVM) engine on every byte —
            # the two are interchangeable per-pattern fallback targets.
            rx = re.compile(expanded, re.ASCII)
        except re.error as e:  # pragma: no cover - library patterns are valid
            raise GrokError(f"bad regex after expansion of {pattern!r}: {e}") from e
        return GrokPattern(source=pattern, regex=rx, fields=fields)

    def _expand(
        self,
        pattern: str,
        fields: list[GrokField],
        counter: list[int],
        stack: tuple[str, ...],
    ) -> str:
        def repl(m: re.Match) -> str:
            syntax, semantic, typ = m.group(1), m.group(2), m.group(3)
            if syntax not in self.library:
                raise GrokError(f"unknown grok pattern %{{{syntax}}}")
            if syntax in stack:
                raise GrokError(f"grok pattern cycle: {' -> '.join(stack)} -> {syntax}")
            inner = self._expand(
                self.library[syntax], fields, counter, stack + (syntax,)
            )
            if semantic:
                if typ in _INT_TYPES:
                    ftyp = "int"
                elif typ in _FLOAT_TYPES:
                    ftyp = "float"
                else:
                    ftyp = "string"
                group = f"g{counter[0]}"
                counter[0] += 1
                fields.append(GrokField(name=semantic, type=ftyp, group=group))
                return f"(?P<{group}>{inner})"
            return f"(?:{inner})"

        return _GROK_REF.sub(repl, pattern)


@dataclass
class CompiledGrok:
    """One or more patterns, applied first-match-wins, vectorized."""

    patterns: list[GrokPattern]

    @property
    def field_names(self) -> list[str]:
        """Union of capture names across patterns, first-appearance order."""
        seen: dict[str, str] = {}
        for p in self.patterns:
            for f in p.fields:
                if f.name not in seen:
                    seen[f.name] = f.type
        return list(seen)

    @property
    def field_types(self) -> dict[str, str]:
        out: dict[str, str] = {}
        for p in self.patterns:
            for f in p.fields:
                out.setdefault(f.name, f.type)
        return out

    def extract_pandas(self, s: pd.Series) -> pd.DataFrame:
        """Columnar first-match-wins extraction.

        Returns a DataFrame with one column per capture name (string dtype,
        typed fields coerced to nullable Int64/float64) plus boolean
        `_grok_matched`. Unmatched rows (and rows matched by a pattern that
        lacks a given field) hold nulls.

        One `str.extract` pass per pattern over the still-unmatched subset:
        the gALL outer group doubles as the match indicator.
        """
        # Direct numpy-object loop: pandas' str.extract spends ~4x more on
        # per-row wrapper overhead than on the regex itself (profiled), so
        # the hot path calls re.Pattern.search directly and pulls groups
        # only for matches. `search` + the embedded ^ anchor == anchored.
        arr = s.to_numpy(dtype=object, na_value=None)
        n = len(arr)
        names = self.field_names
        types = self.field_types
        matched = np.zeros(n, dtype=bool)
        cols: dict[str, np.ndarray] = {m: np.full(n, None, dtype=object) for m in names}

        remaining = [i for i, x in enumerate(arr) if x is not None]

        for pat in self.patterns:
            if not remaining:
                break
            # hot loop: bind the search method and fetch all groups in ONE
            # m.group(*ids) C call (measured ~1.6x over per-field .group())
            search = pat.regex.search
            gids = tuple(f.group for f in pat.fields)
            fcols = [cols[f.name] for f in pat.fields]
            single = fcols[0] if len(gids) == 1 else None
            still: list[int] = []
            for i in remaining:
                m = search(arr[i])
                if m is None:
                    still.append(i)
                    continue
                matched[i] = True
                if single is not None:
                    single[i] = m.group(gids[0])
                elif gids:
                    for c, v in zip(fcols, m.group(*gids)):
                        c[i] = v
            remaining = still

        out = pd.DataFrame(index=s.index)
        for m in names:
            t = types[m]
            if t == "int":
                out[m] = pd.to_numeric(pd.Series(cols[m], index=s.index), errors="coerce").astype("Int64")
            elif t == "float":
                out[m] = pd.to_numeric(pd.Series(cols[m], index=s.index), errors="coerce").astype("float64")
            else:
                out[m] = pd.Series(cols[m], index=s.index, dtype="object")
        out["_grok_matched"] = matched
        return out


# ---------------------------------------------------------------------------
# JVM-native emission (SURVEY.md §2.2 F1 "single-capture fast path", extended
# to any pattern whose captures are structurally guaranteed to participate)
# ---------------------------------------------------------------------------
#
# The compiled Python regex is converted to a Java-compatible regex with
# POSITIONAL groups so the Spark layer can evaluate grok entirely JVM-side:
# `rlike` for the match bit, `regexp_extract(col, pat, gidx)` per capture,
# `try_cast` for typed coercion — zero Python workers, whole-stage codegen.
#
# Eligibility is conservative. The conversion returns None (→ pandas path)
# when Java semantics could diverge from the reference pandas path:
# - a capture group that might NOT participate in a successful match
#   (enclosing alternation or ?/*/{0,n} quantifier): Python yields null,
#   Spark's regexp_extract yields '' — not equal, so those patterns stay
#   on the pandas path;
# - backreferences (group renumbering would break them);
# - unescaped literal '{' that is not a {m,n} quantifier (Java rejects);
# - Python-only (?...) constructs.
# Character classes: both engines are ASCII-class. Java's \s \w \d \b are
# ASCII by default and the pandas engine compiles with re.ASCII (see
# GrokCompiler.compile), so the two agree byte for byte. This matches Go's
# RE2 (the reference engine) and every oracle (DuckDB RE2), the parity
# target. The pandas engine exists only for patterns that are not
# JVM-expressible, never for different matching semantics.
#
# Line-terminator parity: every emitted Java regex is prefixed with (?d)
# (UNIX_LINES), so '.', '^', '$' treat ONLY \n as a line terminator — the
# Python re / RE2 semantics. Without it, Java's default '.' also excludes
# \r, U+0085, U+2028, U+2029, silently truncating DATA/GREEDYDATA captures
# at a stray \r and failing anchor='both' matches entirely (ADVICE r2).

JAVA_FLAGS = "(?d)"

_QUANT_RE = re.compile(r"\{\d+(?:,\d*)?\}")
_NAMED_GROUP_RE = re.compile(r"\(\?P<(g\d+|gALL)>")


@dataclass(frozen=True)
class JavaCapture:
    name: str
    type: str  # "string" | "int" | "float"
    gidx: int  # positional group index in the Java regex


@dataclass
class JavaGrokPattern:
    regex: str
    captures: list[JavaCapture]


def _java_convert(py_regex: str) -> tuple[str, dict[str, int]] | None:
    """Python regex (named semantic groups + gALL wrapper) → Java regex with
    positional groups. Returns (java_regex, {py_group_name: java_index}) or
    None when conversion would be unsafe."""
    out: list[str] = []
    gmap: dict[str, int] = {}
    idx = 0
    i, n = 0, len(py_regex)
    in_class = False
    while i < n:
        c = py_regex[i]
        if c == "\\":
            if i + 1 < n and py_regex[i + 1].isdigit():
                return None  # backreference: renumbering breaks it
            out.append(py_regex[i : i + 2])
            i += 2
            continue
        if in_class:
            out.append(c)
            if c == "]":
                in_class = False
            i += 1
            continue
        if c == "[":
            # Python's class scanner treats a ']' right after '[' or '[^' as a
            # LITERAL member ('[]x]' is valid); Java rejects that form and this
            # scanner would end the class early — mis-shifting group indices or
            # emitting a regex Java rejects at task runtime (ADVICE r2). Those
            # patterns take the pandas path.
            j = i + 1
            if j < n and py_regex[j] == "^":
                j += 1
            if j < n and py_regex[j] == "]":
                return None
            in_class = True
            out.append(c)
            i += 1
            continue
        if c == "{":
            m = _QUANT_RE.match(py_regex, i)
            if not m:
                return None  # dangling literal '{': Java PatternSyntaxException
            out.append(m.group(0))
            i = m.end()
            continue
        if c == "(":
            m = _NAMED_GROUP_RE.match(py_regex, i)
            if m:
                if m.group(1) == "gALL":
                    out.append("(?:")  # wrapper not needed JVM-side
                else:
                    idx += 1
                    gmap[m.group(1)] = idx
                    out.append("(")
                i = m.end()
                continue
            nxt = py_regex[i + 1 : i + 4]
            if nxt.startswith(("?:", "?=", "?!", "?<=", "?<!")):
                out.append(c)  # same meaning in Java
                i += 1
                continue
            if nxt.startswith("?"):
                return None  # other (?...) constructs — flags, conditionals
            idx += 1  # plain user group: capturing in Java too, shifts indices
            out.append(c)
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out), gmap


def _participation(java_regex: str) -> dict[int, bool]:
    """gidx → True iff the group is guaranteed to participate whenever the
    whole regex matches (no enclosing alternation, no 0-repetition
    quantifier on it or any enclosing group)."""
    frames: list[dict] = [{"has_alt": False, "optional": False, "parent": None, "capture": None}]
    stack = [0]
    idx = 0
    i, n = 0, len(java_regex)
    in_class = False
    while i < n:
        c = java_regex[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            i += 1
            continue
        if c == "[":
            # defensive mirror of _java_convert's literal-first-']' rule:
            # skip a leading (possibly negated) ']' so it can't end the class
            in_class = True
            i += 1
            if i < n and java_regex[i] == "^":
                i += 1
            if i < n and java_regex[i] == "]":
                i += 1
            continue
        if c == "(":
            capturing = not java_regex.startswith("(?", i)
            if capturing:
                idx += 1
            frames.append(
                {"has_alt": False, "optional": False, "parent": stack[-1], "capture": idx if capturing else None}
            )
            stack.append(len(frames) - 1)
            i += 1
            continue
        if c == ")":
            fid = stack.pop()
            j = i + 1
            optional = False
            if j < n:
                if java_regex[j] in "?*":
                    optional = True
                elif java_regex[j] == "{":
                    m = _QUANT_RE.match(java_regex, j)
                    if m and m.group(0).startswith("{0"):
                        optional = True
            frames[fid]["optional"] = optional
            i += 1
            continue
        if c == "|":
            frames[stack[-1]]["has_alt"] = True
        i += 1
    out: dict[int, bool] = {}
    for fr in frames:
        g = fr["capture"]
        if g is None:
            continue
        safe = not fr["optional"]
        p = fr["parent"]
        while safe and p is not None:
            pf = frames[p]
            if pf["has_alt"] or pf["optional"]:
                safe = False
            p = pf["parent"]
        out[g] = safe
    return out


@lru_cache(maxsize=256)
def _cached_compile_java(
    match_patterns: tuple[str, ...],
    extra_items: tuple[tuple[str, str], ...],
    anchor: str,
) -> tuple[JavaGrokPattern, ...] | None:
    cg = _cached_compile(match_patterns, extra_items, anchor)
    out: list[JavaGrokPattern] = []
    for p in cg.patterns:
        conv = _java_convert(p.regex.pattern)
        if conv is None:
            return None
        jre, gmap = conv
        part = _participation(jre)
        caps: list[JavaCapture] = []
        for f in p.fields:
            gi = gmap.get(f.group)
            if gi is None or not part.get(gi, False):
                return None
            caps.append(JavaCapture(f.name, f.type, gi))
        # UNIX_LINES last: participation analysis runs on the flag-free body
        out.append(JavaGrokPattern(JAVA_FLAGS + jre, caps))
    return tuple(out)


def compile_grok_java(
    match: list[str] | str,
    extra_patterns: dict[str, str] | None = None,
    anchor: str = "start",
) -> tuple[JavaGrokPattern, ...] | None:
    """Compile to the JVM-native form, or None if any pattern is not safely
    expressible with Java regex + positional regexp_extract (see module
    notes above). Memoized like compile_grok."""
    if isinstance(match, str):
        match = [match]
    extra_items = tuple(sorted((extra_patterns or {}).items()))
    return _cached_compile_java(tuple(match), extra_items, anchor)


@lru_cache(maxsize=256)
def _cached_compile(
    match_patterns: tuple[str, ...],
    extra_items: tuple[tuple[str, str], ...],
    anchor: str,
) -> CompiledGrok:
    compiler = GrokCompiler(dict(extra_items) if extra_items else None)
    return CompiledGrok([compiler.compile(p, anchor=anchor) for p in match_patterns])


def compile_grok(
    match: list[str] | str,
    extra_patterns: dict[str, str] | None = None,
    anchor: str = "start",
) -> CompiledGrok:
    """Compile (and memoize per-process) a grok filter's match pattern list.

    The memoization is the per-executor compile-once cache: inside a pandas
    UDF this is called per Arrow batch but compiles only on the first call
    in each Python worker process.
    """
    if isinstance(match, str):
        match = [match]
    extra_items = tuple(sorted((extra_patterns or {}).items()))
    return _cached_compile(tuple(match), extra_items, anchor)
