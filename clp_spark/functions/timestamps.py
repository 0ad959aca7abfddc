"""Timestamp pattern detection + parse → epoch ms (raw long, CLP-style).

CLP tries a fixed ordered pattern list against the start of each line and
locks the first match per file (reference:
components/core/src/clp/TimestampPattern.cpp:124-190,
MessageParser.cpp:95-164). The full reference list is implemented here as
JVM-side regexp_extract + try_to_timestamp expressions (whole-stage-codegen
friendly) — the '%3' millisecond digits become .SSS, and the reference's
"number of leading space-separated tokens before the timestamp" becomes a
`(?:\\S+\\s+){N}` prefix group.

try_to_timestamp (not to_timestamp) everywhere: under ANSI mode a
non-matching capture must fall through to the next pattern, never raise.

Timestamps stay epoch-ms int64 (reference Defs.h:10) — CLP compares raw ms;
TimestampType is derived only where a window needs it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class TsPattern:
    name: str
    body: str            # regex after the leading tokens; EXACTLY one capture group (the timestamp)
    fmt: str             # try_to_timestamp format for the (normalized) capture
    leading_tokens: int = 0   # reference TimestampPattern num_spaces_before_ts
    comma_ms: bool = False    # normalize ',' → '.' before parsing
    squash_ws: bool = False   # normalize runs of spaces → one (for %e/%k/%l)
    prefix: str = ""          # literal chars the regex consumes before the ts
    suffix: str = ""          # literal chars the regex consumes after the ts
    render_fmt: str | None = None  # date_format override for re-rendering
    weekday: bool = False     # regex consumes a weekday name before the ts

    @property
    def regex(self) -> str:
        return rf"^((?:\S+\s+){{{self.leading_tokens}}})" + self.body

    @property
    def render(self) -> str:
        """date_format pattern that re-renders what the regex captured —
        fmt with the comma restored for comma_ms patterns (CLP re-renders
        the timestamp from its stored pattern on decompression,
        TimestampPattern.cpp insert_formatted_timestamp)."""
        if self.render_fmt is not None:
            return self.render_fmt
        return self.fmt.replace(".SSS", ",SSS") if self.comma_ms else self.fmt


_ISO = r"\d{4}-\d{2}-\d{2}"
_SLASH = r"\d{4}/\d{2}/\d{2}"
_HMS = r"\d{2}:\d{2}:\d{2}"
_MON = r"[A-Z][a-z]{2}"

# Reference order (TimestampPattern.cpp:124-190): millisecond patterns first,
# then second-resolution, then the imprecise year-less ones.
KNOWN_PATTERNS: list[TsPattern] = [
    TsPattern("iso_T_dot_ms", rf"({_ISO}T{_HMS}\.\d{{3}})", "yyyy-MM-dd'T'HH:mm:ss.SSS"),
    TsPattern("iso_T_comma_ms", rf"({_ISO}T{_HMS},\d{{3}})", "yyyy-MM-dd'T'HH:mm:ss.SSS", comma_ms=True),
    TsPattern("iso_space_dot_ms", rf"({_ISO} {_HMS}\.\d{{3}})", "yyyy-MM-dd HH:mm:ss.SSS"),
    TsPattern("iso_space_comma_ms", rf"({_ISO} {_HMS},\d{{3}})", "yyyy-MM-dd HH:mm:ss.SSS", comma_ms=True),
    TsPattern("slash_T_dot_ms", rf"({_SLASH}T{_HMS}\.\d{{3}})", "yyyy/MM/dd'T'HH:mm:ss.SSS"),
    TsPattern("slash_T_comma_ms", rf"({_SLASH}T{_HMS},\d{{3}})", "yyyy/MM/dd'T'HH:mm:ss.SSS", comma_ms=True),
    TsPattern("slash_space_dot_ms", rf"({_SLASH} {_HMS}\.\d{{3}})", "yyyy/MM/dd HH:mm:ss.SSS"),
    TsPattern("slash_space_comma_ms", rf"({_SLASH} {_HMS},\d{{3}})", "yyyy/MM/dd HH:mm:ss.SSS", comma_ms=True),
    TsPattern("bracketed_comma_ms", rf"\[({_ISO} {_HMS},\d{{3}})\]", "yyyy-MM-dd HH:mm:ss.SSS", comma_ms=True,
              prefix="[", suffix="]"),
    TsPattern("two_tok_comma_ms", rf"({_ISO} {_HMS},\d{{3}})", "yyyy-MM-dd HH:mm:ss.SSS",
              leading_tokens=2, comma_ms=True),
    TsPattern("angle_colon_ms", rf"<<<({_ISO} {_HMS}:\d{{3}})", "yyyy-MM-dd HH:mm:ss:SSS", prefix="<<<"),
    TsPattern("day_monname_comma_ms", rf"(\d{{2}} {_MON} \d{{4}} {_HMS},\d{{3}})",
              "dd MMM yyyy HH:mm:ss.SSS", comma_ms=True),
    TsPattern("iso_T_sec", rf"({_ISO}T{_HMS})", "yyyy-MM-dd'T'HH:mm:ss"),
    TsPattern("iso_space_sec", rf"({_ISO} {_HMS})", "yyyy-MM-dd HH:mm:ss"),
    TsPattern("slash_T_sec", rf"({_SLASH}T{_HMS})", "yyyy/MM/dd'T'HH:mm:ss"),
    TsPattern("slash_space_sec", rf"({_SLASH} {_HMS})", "yyyy/MM/dd HH:mm:ss"),
    TsPattern("bracket_iso_T_sec", rf"\[({_ISO}T{_HMS})", "yyyy-MM-dd'T'HH:mm:ss", prefix="["),
    TsPattern("bracket_compact", rf"\[(\d{{8}}-{_HMS})\]", "yyyyMMdd-HH:mm:ss", prefix="[", suffix="]"),
    TsPattern("start_date", rf"({_ISO}\s{{2}}{_HMS})", "yyyy-MM-dd HH:mm:ss",
              leading_tokens=1, squash_ws=True, render_fmt="yyyy-MM-dd  HH:mm:ss"),
    TsPattern("two_digit_year", rf"(\d{{2}}/\d{{2}}/\d{{2}} {_HMS})", "yy/MM/dd HH:mm:ss"),
    TsPattern("compact_2dy", rf"(\d{{6}}\s+\d{{1,2}}:\d{{2}}:\d{{2}})", "yyMMdd H:mm:ss",
              squash_ws=True),
    TsPattern("monname_ampm", rf"({_MON} \d{{2}}, \d{{4}}\s+\d{{1,2}}:\d{{2}}:\d{{2}} [AP]M)",
              "MMM dd, yyyy h:mm:ss a", squash_ws=True),
    TsPattern("full_month_hm", r"([A-Z][a-z]+ \d{2}, \d{4} \d{2}:\d{2})", "MMMM dd, yyyy HH:mm"),
    TsPattern("apache_1tok", rf"\[(\d{{2}}/{_MON}/\d{{4}}:{_HMS})", "dd/MMM/yyyy:HH:mm:ss",
              leading_tokens=1, prefix="["),
    TsPattern("apache_3tok", rf"\[(\d{{2}}/{_MON}/\d{{4}}:{_HMS})", "dd/MMM/yyyy:HH:mm:ss",
              leading_tokens=3, prefix="["),
    TsPattern("apache_3tok_numeric", rf"\[(\d{{2}}/\d{{2}}/\d{{4}}:{_HMS})", "dd/MM/yyyy:HH:mm:ss",
              leading_tokens=3, prefix="["),
    TsPattern("rails_6tok", rf"({_ISO} {_HMS})", "yyyy-MM-dd HH:mm:ss", leading_tokens=6),
    TsPattern("one_tok_iso", rf"({_ISO} {_HMS})", "yyyy-MM-dd HH:mm:ss", leading_tokens=1),
    # Spark >=3 forbids 'EEE' in parse patterns; the weekday is matched by the
    # regex (so strip removes it) but excluded from the parsed capture
    TsPattern("apport_4tok", rf"{_MON} ({_MON}\s+\d{{1,2}} {_HMS} \d{{4}})",
              "MMM d HH:mm:ss yyyy", leading_tokens=4, squash_ws=True, weekday=True),
    TsPattern("weekday", rf"{_MON} ({_MON}\s+\d{{1,2}} {_HMS} \d{{4}})",
              "MMM d HH:mm:ss yyyy", squash_ws=True, weekday=True),
    # reference-marked imprecise (no year → epoch year); kept for parity
    TsPattern("syslog_noyear", rf"({_MON}\s+\d{{1,2}} {_HMS})", "MMM d HH:mm:ss",
              squash_ws=True),
    TsPattern("monthday_ms_noyear", rf"(\d{{2}}-\d{{2}} {_HMS}\.\d{{3}})", "MM-dd HH:mm:ss.SSS"),
    # E.g. 626515123 — a leading all-digit token is epoch MILLISECONDS
    # (reference "%#3", TimestampPattern.cpp:189, last in the known list).
    # Bounded to 18 digits so the long cast can't overflow; token-anchored
    # (the digits must end the token) so "123abc" is not half-consumed.
    TsPattern("epoch_ms", r"(\d{1,18})(?=\s|$)", "#epoch_ms"),
]

# Constructible-but-not-searched patterns (reference tests them by manual
# construction only — test-TimestampPattern.cpp:448-478): epoch micro/nano
# second tokens, truncated to the ms CLP stores. Not in KNOWN_PATTERNS
# because they are indistinguishable from %#3 by shape.
EXTRA_PATTERNS: dict[str, TsPattern] = {
    "epoch_us": TsPattern("epoch_us", r"(\d{1,18})(?=\s|$)", "#epoch_us"),
    "epoch_ns": TsPattern("epoch_ns", r"(\d{1,18})(?=\s|$)", "#epoch_ns"),
}

# digits-per-fraction for rendering an epoch pattern back to its token:
# ms → the value itself; us → ms*10^3; ns → ms*10^6
_EPOCH_RENDER_MULT = {"#epoch_ms": 1, "#epoch_us": 1_000, "#epoch_ns": 1_000_000}


def _parse_one(line: Column, p: TsPattern) -> Column:
    captured = F.regexp_extract(line, p.regex, 2)
    if p.fmt.startswith("#epoch"):
        # truncate by dropping trailing digits, not by double division: an
        # 18-digit ns token exceeds 2^53 and floor(val/1000) in double is
        # off by a few ms (ADVICE r02). The capture is all digits (no
        # sign), so dropping the last k digits IS floor division by 10^k;
        # captures shorter than k digits truncate to 0.
        val = captured.cast("long")
        for fmt, k in (("#epoch_us", 3), ("#epoch_ns", 6)):
            if p.fmt == fmt:
                val = F.when(
                    F.length(captured) > k,
                    F.substring(
                        captured, F.lit(1), F.length(captured) - k
                    ).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
        return F.when(captured != "", val).otherwise(F.lit(None))
    if p.comma_ms:
        captured = F.regexp_replace(captured, ",", ".")
    if p.squash_ws:
        captured = F.regexp_replace(captured, r"\s+", " ")
    ts = F.try_to_timestamp(captured, F.lit(p.fmt))
    return F.when(captured != "", F.unix_millis(ts)).otherwise(F.lit(None))


def parse_timestamp_ms(line: Column) -> Column:
    """Epoch-ms of the first matching known pattern, else NULL (no timestamp)."""
    return F.coalesce(*[_parse_one(line, p) for p in KNOWN_PATTERNS],
                      F.lit(None).cast("long"))


def detect_pattern(line: Column) -> Column:
    """Name of the first pattern that both regex-matches AND parses to a valid
    timestamp, else NULL — CLP locks this per file (Archive.cpp:293).

    Gated on try_to_timestamp succeeding (the same condition as _parse_one) so
    the reported name always agrees with the pattern parse_timestamp_ms would
    fall through to — a regex-shape match whose capture try_to_timestamp
    rejects (e.g. '2015-13-40 25:00:00') does not claim the pattern.
    """
    out = F.lit(None).cast("string")
    for p in reversed(KNOWN_PATTERNS):
        out = F.when(_parse_one(line, p).isNotNull(), F.lit(p.name)).otherwise(out)
    return out


def parse_with_pattern(line: Column, pattern_name: Column) -> Column:
    """Epoch-ms using ONLY the named pattern (per-file lock semantics,
    reference MessageParser.cpp:95-164: after the first match the file's
    pattern is fixed and later lines try just that one).

    The CASE chain is cheap per row: only the branch whose name equals the
    locked pattern evaluates its regex — 1 pattern/line instead of ~32.
    """
    out = F.lit(None).cast("long")
    for p in reversed(KNOWN_PATTERNS):
        out = F.when(pattern_name == p.name, _parse_one(line, p)).otherwise(out)
    return out


def strip_with_pattern(line: Column, pattern_name: Column) -> Column:
    """Line content after the matched timestamp for the locked pattern only;
    lines that don't match the locked pattern pass through unchanged."""
    out = line
    for p in reversed(KNOWN_PATTERNS):
        out = F.when(
            (pattern_name == p.name) & (F.regexp_extract(line, p.regex, 2) != ""),
            F.regexp_replace(line, p.regex, "$1"),
        ).otherwise(out)
    return out


def restore_timestamp(
    message: Column, ts_ms: Column, pattern_name: Column,
    patterns: list[str] | None = None,
) -> Column:
    """Re-insert the timestamp text into a stripped message — the
    decompression inverse of `strip_with_pattern` (reference
    TimestampPattern.cpp insert_formatted_timestamp: `clp x` re-renders each
    message's timestamp from its stored pattern).

    The stored body is `leading_tokens + rest`; the original line was
    `leading_tokens + [weekday ]prefix + ts + suffix + rest`, so the render
    splices `date_format(ts_ms, pattern.render)` (plus the pattern's literal
    decorations, plus the weekday for weekday-consuming patterns) back in
    after the leading tokens. Pure JVM expressions (date_format CASE chain).

    Exact for every pattern whose source text is in canonical spacing;
    squash_ws patterns re-render with single spaces (the run-of-spaces
    information is not retained — same loss class as the reference's
    space-padded %e day). Rows with a NULL pattern or NULL ts pass through
    unchanged (preamble/continuation-only messages).

    ``patterns`` names the patterns the archive holds (its metadata.json
    ``ts_patterns``): only those get a branch, as the reference re-renders
    with the one pattern stored per file. None builds every known pattern
    (archives without the key); [] builds none, so every row passes
    through."""
    out = message
    for p in reversed(KNOWN_PATTERNS):
        if patterns is not None and p.name not in patterns:
            continue
        ts = F.timestamp_millis(ts_ms)
        if p.fmt.startswith("#epoch"):
            rendered = (ts_ms * _EPOCH_RENDER_MULT[p.fmt]).cast("string")
        else:
            rendered = F.date_format(ts, p.render)
        pieces = [F.lit(p.prefix), rendered, F.lit(p.suffix)]
        if p.weekday:
            pieces.insert(0, F.date_format(ts, "EEE "))
        if p.leading_tokens:
            # \s+? (minimal): in the stored body the timestamp is gone, so
            # the lead's trailing space and the remainder's leading space
            # are adjacent — a greedy run would swallow both and misplace
            # the splice point
            lead = F.regexp_extract(
                message, rf"^(?:\S+\s+?){{{p.leading_tokens}}}", 0
            )
            restored = F.concat(
                lead,
                *pieces,
                F.substr(message, F.length(lead) + F.lit(1)),
            )
        else:
            restored = F.concat(*pieces, message)
        out = F.when(
            (pattern_name == p.name) & ts_ms.isNotNull(), restored
        ).otherwise(out)
    return out


def strip_timestamp(line: Column) -> Column:
    """Line content after the matched timestamp, keeping any leading tokens
    (the message body CLP encodes)."""
    out = line
    for p in reversed(KNOWN_PATTERNS):  # earlier patterns take priority
        out = F.when(
            F.regexp_extract(line, p.regex, 2) != "",
            F.regexp_replace(line, p.regex, "$1"),
        ).otherwise(out)
    return out


def _java_fmt_to_strptime(fmt: str) -> str:
    """Java DateTimeFormatter pattern → Python strptime pattern, for the
    pandas-side validity check used by the streaming assembler. Covers
    exactly the letters KNOWN_PATTERNS use."""
    out = []
    i = 0
    table = {
        ("y", 4): "%Y", ("y", 2): "%y",
        ("M", 4): "%B", ("M", 3): "%b", ("M", 2): "%m", ("M", 1): "%m",
        ("d", 2): "%d", ("d", 1): "%d",
        ("H", 2): "%H", ("H", 1): "%H",
        ("h", 2): "%I", ("h", 1): "%I",
        ("m", 2): "%M", ("s", 2): "%S",
        ("S", 3): "%f",
        ("a", 1): "%p",
    }
    while i < len(fmt):
        c = fmt[i]
        if c == "'":
            j = fmt.index("'", i + 1)
            out.append(fmt[i + 1 : j] or "'")
            i = j + 1
            continue
        j = i
        while j < len(fmt) and fmt[j] == c:
            j += 1
        run = fmt[i:j]
        if c.isalpha():
            key = (c, j - i)
            if key not in table:
                raise ValueError(f"unmapped java pattern run {run!r} in {fmt!r}")
            out.append(table[key])
        else:
            out.append(run)
        i = j
    return "".join(out)


def pandas_head_mask(s, p: TsPattern):
    """Boolean numpy mask: line starts a new message under pattern ``p`` —
    the regex matches AND the capture parses to a valid timestamp. This is
    the pandas-side mirror of ``_parse_one(line, p).isNotNull()`` (the batch
    operator's head condition, messages.py `_has_ts`), so the streaming
    assembler draws message boundaries exactly where the batch operator
    does: a regex-shape match with impossible field values (e.g.
    '2016-99-99 88:99:99') is a continuation line on both paths."""
    import numpy as np
    import pandas as pd

    cap = s.str.extract(p.regex, expand=True)[1]
    hit = cap.notna().to_numpy()
    if not hit.any():
        return hit
    if p.fmt.startswith("#epoch"):
        import pandas as pd

        return hit & pd.to_numeric(cap, errors="coerce").notna().to_numpy()
    vals = cap[hit]
    if p.comma_ms:
        vals = vals.str.replace(",", ".", regex=False)
    if p.squash_ws:
        vals = vals.str.replace(r"\s+", " ", regex=True)
    parsed = pd.to_datetime(
        vals, format=_java_fmt_to_strptime(p.fmt), errors="coerce"
    )
    out = np.zeros(len(s), dtype=bool)
    out[np.flatnonzero(hit)] = parsed.notna().to_numpy()
    return out
