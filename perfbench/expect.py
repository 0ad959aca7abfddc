"""Expected answers, computed in plain Python from the generator's records.

Nothing here imports clp_spark: the answers a run is checked against must
not share code with the engine they check.
"""

from __future__ import annotations

import hashlib
import re
import zlib
from collections import Counter


def wildcard_regex(query: str) -> re.Pattern:
    """Compile a CLP wildcard query to a whole-string regex.

    '*' matches any run of characters (newlines included), '?' exactly one
    character, and '\\' makes the next character literal ('\\*', '\\?',
    '\\\\'). A trailing lone '\\' is a literal backslash.
    """
    out = []
    i = 0
    while i < len(query):
        c = query[i]
        if c == "\\" and i + 1 < len(query):
            out.append(re.escape(query[i + 1]))
            i += 2
            continue
        if c == "*":
            if not out or out[-1] != ".*":
                out.append(".*")
        elif c == "?":
            out.append(".")
        else:
            out.append(re.escape(c))
        i += 1
    return re.compile("".join(out), re.DOTALL)


def wildcard_match(query: str, text: str) -> bool:
    return wildcard_regex(query).fullmatch(text) is not None


def search_substring(query: str) -> str:
    """The query `s QUERY` evaluates: the CLI wraps it in '*' on both sides."""
    return "*" + query + "*"


def lines_digest(lines) -> dict:
    """Order-free digest of printed output: line count plus a hash of the
    sorted lines, so result sets compare without storing them."""
    ordered = sorted(lines)
    h = hashlib.sha256("\n".join(ordered).encode("utf-8", "surrogatepass"))
    return {"lines": len(ordered), "sha256": h.hexdigest()}


def output_lines(stdout: str) -> list[str]:
    """Captured stdout split on '\n' only: messages may hold other
    characters that str.splitlines() would treat as line breaks."""
    lines = stdout.split("\n")
    if lines[-1] == "":
        lines.pop()
    return lines


def output_digest(stdout: str) -> dict:
    """Digest of captured CLI stdout, comparable with `lines_digest`."""
    return lines_digest(output_lines(stdout))


def message_lines(messages) -> list[str]:
    """Lines a stdout printer emits for `messages` (one print per message,
    multi-line messages spread over several lines)."""
    out: list[str] = []
    for m in messages:
        out.extend(m.split("\n"))
    return out


def count_by_time(ts_ms, bucket_ms: int) -> list[str]:
    """`--count-by-time` output lines: 'bucket_start count', ascending."""
    buckets = Counter((t // bucket_ms) * bucket_ms for t in ts_ms)
    return [f"{b} {n}" for b, n in sorted(buckets.items())]


def crc_sum(keys, messages) -> int:
    """Sum over rows of CRC-32(key + '\\x00' + message) as UTF-8 — the same
    checksum Spark's crc32() gives, so a decode is checked row by row."""
    return sum(
        zlib.crc32((k + "\x00" + m).encode("utf-8"))
        for k, m in zip(keys, messages)
    )


def check(expected, actual) -> str | None:
    """None when `actual` equals `expected`, else a one-line reason."""
    if expected == actual:
        return None
    return f"expected {expected!r}, got {actual!r}"[:300]
