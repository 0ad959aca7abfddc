"""CLP wildcard text-search over the encoded archive — Spark-first.

Reproduces the reference's query lifecycle (GrepCore::process_raw_query,
/root/reference/components/core/src/clp/GrepCore.hpp:139-247):

1. replace unescaped '?' with '*' for subquery generation; clean up '*' runs;
2. tokenize into potential variable tokens (wildcard-aware);
3. enumerate interpretations of ambiguous tokens (cartesian, like
   GrepCore.hpp:183-233) → one SubQuery per combination;
4. per subquery: probe the logtype dictionary with the assembled wildcard
   pattern → candidate logtype ids; probe the variable dictionary for
   dictionary-variable constraints (exact or wildcard,
   EncodedVariableInterpreter.hpp:581-652);
5. scan: rows filtered by logtype_id ∈ set + ordered-subsequence variable
   match (clp/Query.hpp:244-268) — all JVM-side Column expressions;
6. decode only surviving candidates and re-verify the original query with a
   whole-message wildcard match (Grep.cpp:116-132).

The dictionary probes run at the driver against small dictionary DataFrames —
CLP's "evaluate the query against the dictionary once, then integer-compare
per row" strategy (dictionary-first predicate, a hand-rolled dynamic
partition pruning).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from itertools import product
from operator import or_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clp_spark.functions.wildcard import (
    clean_up_wildcard_query,
    wildcard_match,
    wildcard_to_like_pattern,
)
from clp_spark.operators.decode import decode_df
from clp_spark.oracle.encoder import (
    _NON_DELIM,
    DICT_PLACEHOLDER,
    FLOAT_PLACEHOLDER,
    INT_PLACEHOLDER,
    could_be_multi_digit_hex,
    encode_float,
    encode_int,
    escape_constant,
)

MAX_ENUMERATIONS = 128
MAX_ISIN_IDS = 1000
MAX_DICT_CONSTRAINT_STRINGS = 10_000


# ---------------------------------------------------------------- tokenizer


@dataclass
class QueryToken:
    """A potential-variable token of the processed query string."""

    chars: list[tuple[str, bool]]  # (char, was_escaped)
    is_wildcard_only: bool = False

    @property
    def value_no_wildcards(self) -> str:
        return "".join(c for c, esc in self.chars if esc or c != "*")

    @property
    def has_wildcards(self) -> bool:
        return any(not esc and c == "*" for c, esc in self.chars)

    @property
    def has_mid_wildcard(self) -> bool:
        inner = self.chars[1:-1]
        return any(not esc and c == "*" for c, esc in inner)

    @property
    def prefix_star(self) -> bool:
        c, esc = self.chars[0]
        return not esc and c == "*"

    @property
    def suffix_star(self) -> bool:
        c, esc = self.chars[-1]
        return not esc and c == "*"

    def literal_value(self) -> str:
        """Token content with escapes resolved (for exact probes)."""
        return "".join(c for c, _ in self.chars)


def _parse_escaped(q: str) -> list[tuple[str, bool]]:
    out = []
    escaped = False
    for c in q:
        if escaped:
            out.append((c, True))
            escaped = False
        elif c == "\\":
            escaped = True
        else:
            out.append((c, False))
    return out


def _is_var_content(value: str, preceded_by_eq: bool) -> bool:
    has_digit = any(c.isdigit() and c.isascii() for c in value)
    has_alpha = any(c.isalpha() and c.isascii() for c in value)
    return (
        has_digit
        or (preceded_by_eq and has_alpha)
        or could_be_multi_digit_hex(value)
    )


def tokenize_query(
    q: str, delimiters: set | None = None
) -> list[tuple[str, object]]:
    """[('const', [(c, esc)...]) | ('token', QueryToken)] over the processed query.

    A token is a maximal run of unescaped non-delimiters and unescaped '*'s
    touching them; a bare run of '*' is a wildcard-only token. The default
    non-delimiter set is the heuristic tokenizer's; pass ``delimiters`` (a
    set of delimiter chars) to tokenize under a user schema file's
    delimiters instead (operators/schema_archive.py).
    """
    pairs = _parse_escaped(q)

    def is_tok_char(c: str, esc: bool) -> bool:
        if not esc and c == "*":
            return True
        in_token = c not in delimiters if delimiters is not None else c in _NON_DELIM
        return in_token and not (esc and c == "*")

    units: list[tuple[str, object]] = []
    i, n = 0, len(pairs)
    const: list[tuple[str, bool]] = []
    while i < n:
        c, esc = pairs[i]
        if is_tok_char(c, esc):
            j = i
            while j < n and is_tok_char(*pairs[j]):
                j += 1
            run = pairs[i:j]
            has_content = any(not (not e and ch == "*") for ch, e in run)
            if has_content:
                if const:
                    units.append(("const", const))
                    const = []
                units.append(("token", QueryToken(run)))
            else:
                if const:
                    units.append(("const", const))
                    const = []
                units.append(("token", QueryToken(run, is_wildcard_only=True)))
            i = j
        else:
            const.append((c, esc))
            i += 1
    if const:
        units.append(("const", const))
    return units


# ------------------------------------------------------------- compilation


@dataclass
class VarConstraint:
    kind: str  # "int" | "float" | "dict_exact" | "dict_set"
    exact_value: str | None = None  # stringified encoded value / dict string
    dict_strings: list[str] = field(default_factory=list)


@dataclass
class SubQuery:
    logtype_like: str  # SQL LIKE pattern over the logtype dictionary
    ordered_exact: list[tuple[int, str]] = field(default_factory=list)
    set_constraints: list[list[str]] = field(default_factory=list)
    wildcard_match_required: bool = False


MATCH_ALL = "MATCH_ALL"


def _like_escape_lit(s: str) -> str:
    return s.replace("\\", "\\\\").replace("%", r"\%").replace("_", r"\_")


def _const_to_logtype_like(chars: list[tuple[str, bool]]) -> str:
    """Query constant chars → LIKE pattern over logtype space (escaping as the
    archive writer escapes constants)."""
    lit = "".join(c for c, _ in chars)
    return _like_escape_lit(escape_constant(lit))


def _interpretations(tok: QueryToken, preceded_by_eq: bool) -> list[str]:
    if tok.is_wildcard_only:
        return ["star"]
    if tok.has_mid_wildcard:
        return ["midwild"]
    v = tok.value_no_wildcards
    if not tok.has_wildcards:
        if _is_var_content(v, preceded_by_eq):
            return ["exact_var"]
        return ["text"]
    # wildcard token: ambiguous between logtype text and each possible var kind
    # (reference: wildcard_string_could_be_representable_integer/float_var,
    # EncodedVariableInterpreter.cpp:199-226)
    interps = ["text"]
    content = v  # non-wildcard chars
    int_possible = all(c.isdigit() or c == "-" for c in content)
    float_possible = all(c.isdigit() or c in "-." for c in content)
    if int_possible:
        interps.append("wild_int")
    if float_possible:
        interps.append("wild_float")
    interps.append("wild_dict")
    return interps


def _relax_unescaped_question_marks(q: str) -> str:
    """Candidate filtering treats '?' as '*' (a superset; the final wildcard
    verify uses the original query). Escaped '\\?' is a literal and must NOT
    be rewritten — a blanket replace would turn it into a literal '*' and
    silently drop matches."""
    out: list[str] = []
    i = 0
    while i < len(q):
        c = q[i]
        if c == "\\" and i + 1 < len(q):
            out.append(q[i : i + 2])
            i += 2
            continue
        out.append("*" if c == "?" else c)
        i += 1
    return "".join(out)


def compile_subqueries(
    query: str,
    var_dict: DataFrame,
    ignore_case: bool = False,
):
    """→ MATCH_ALL | deduplicated list[SubQuery].

    The archive-independent half of query compilation: tokenize, enumerate
    interpretations, probe the VAR dictionary (string constraints — exact
    against any archive whose rows can only contain vars present in its own
    dictionary, so probing a UNION dictionary stays exact), but do NOT
    resolve logtype ids — callers resolve those per archive
    (`compile_query`) or as a DataFrame join across many archives
    (`operators/federation.py`)."""
    processed = clean_up_wildcard_query(_relax_unescaped_question_marks(query))
    units = tokenize_query(processed)

    # which unit indexes are tokens, and their interpretation choices
    tok_ix = [i for i, (kind, _) in enumerate(units) if kind == "token"]
    choices = []
    for i in tok_ix:
        prev_eq = False
        if i > 0 and units[i - 1][0] == "const":
            prev_chars = units[i - 1][1]
            prev_eq = len(prev_chars) > 0 and prev_chars[-1][0] == "="
        choices.append(_interpretations(units[i][1], prev_eq))

    n_combos = 1
    for c in choices:
        n_combos *= len(c)
    if n_combos > MAX_ENUMERATIONS:
        # Truncating the cartesian product would DROP subqueries — a silent
        # false-negative (a row matching only a dropped interpretation never
        # enters the candidate union). The only sound degradation is the
        # full-scan superset: decode everything and let the final wildcard
        # verification restore exactness (same semantics as MATCH_ALL).
        # Checked on the COUNT, before materializing the product — 20
        # ambiguous tokens would otherwise build 4^20 tuples first.
        return MATCH_ALL
    combos = list(product(*choices)) if choices else [()]

    probe_cache: dict = {}
    subqueries: list[SubQuery] = []
    seen: set = set()
    for combo in combos:
        sq = _build_subquery(units, tok_ix, combo, var_dict, ignore_case, probe_cache)
        if sq is None:
            continue
        if sq == MATCH_ALL:
            return MATCH_ALL
        key = (sq.logtype_like, tuple(sq.ordered_exact), sq.wildcard_match_required)
        if key in seen:
            continue
        seen.add(key)
        subqueries.append(sq)
    return subqueries


def compile_query(
    query: str,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    ignore_case: bool = False,
):
    """→ MATCH_ALL | list[(logtype_ids, SubQuery)] (empty list = no match)."""
    subqueries = compile_subqueries(query, var_dict, ignore_case)
    if subqueries == MATCH_ALL:
        return MATCH_ALL
    return resolve_logtype_ids(subqueries, logtype_dict, ignore_case)


def resolve_logtype_ids(
    subqueries: list, logtype_dict: DataFrame, ignore_case: bool = False
):
    """Probe the logtype dictionary per subquery → list[(ids, SubQuery)];
    shared by the heuristic and schema-aware compilers."""
    compiled = []
    for sq in subqueries:
        probe = logtype_dict.where(
            F.col("logtype").ilike(sq.logtype_like)
            if ignore_case
            else F.col("logtype").like(sq.logtype_like)
        )
        # bound driver memory / expression size: a broad pattern over a
        # 1M+-entry dictionary must not collect every id — past the cap the
        # id constraint is dropped (a superset; the final verify restores
        # exactness), mirroring CLP's dictionary probe being an optimization
        ids = [
            r["logtype_id"]
            for r in probe.select("logtype_id").limit(MAX_ISIN_IDS + 1).collect()
        ]
        if not ids:
            continue
        if len(ids) > MAX_ISIN_IDS:
            # Dropping the id constraint widens this subquery to a superset of
            # its matches, so the final whole-message wildcard verification
            # becomes mandatory for it — even if the subquery was otherwise
            # exact (e.g. all-text tokens, no wildcards). Without this, an
            # exact subquery in `exact_preds` would skip verification and
            # return every archive row (see search_archive's no_verify path).
            sq.wildcard_match_required = True
            compiled.append((None, sq))
        else:
            compiled.append((ids, sq))
    return compiled


def _exact_dict_constraint(
    sq, like_parts, v: str, var_dict, ignore_case: bool, probe_cache: dict
) -> bool:
    """Exact dictionary-variable constraint for value ``v``: probe the VAR
    dictionary, append the placeholder + constraint, or report WontMatch
    (False). Shared by the heuristic exact_var cascade and the
    schema-directed ('sx', 0x12, v) path."""
    if ignore_case:
        matches = _probe_dict_cached(probe_cache, var_dict, v, True, exact=True)
        if not matches:
            return False
        like_parts.append(DICT_PLACEHOLDER)
        if len(matches) <= MAX_DICT_CONSTRAINT_STRINGS:
            sq.set_constraints.append(matches)
        # over the cap: drop the (truncated) constraint — an incomplete
        # isin would false-negative the variants past the cap;
        # wildcard_match_required is already True on this path, so the
        # final verify restores exactness over the superset
        return True
    key = ("exists", v)
    if key not in probe_cache:
        probe_cache[key] = (
            var_dict.where(F.col("var_value") == v).limit(1).count() > 0
        )
    if not probe_cache[key]:
        return False  # WontMatch
    like_parts.append(DICT_PLACEHOLDER)
    sq.ordered_exact.append((0x12, v))
    return True


def _build_subquery(units, tok_ix, combo, var_dict, ignore_case, probe_cache=None):
    """probe_cache memoizes dictionary probes across the combo loop keyed on
    (pattern, ignore_case, exact) — identical (token, interpretation) pairs
    recur in most combos, and each probe is a driver-side Spark job."""
    if probe_cache is None:
        probe_cache = {}
    like_parts: list[str] = []
    sq = SubQuery(logtype_like="")
    combo_iter = iter(combo)
    for i, (kind, payload) in enumerate(units):
        if kind == "const":
            like_parts.append(_const_to_logtype_like(payload))
            continue
        tok: QueryToken = payload
        interp = next(combo_iter)
        if interp == "star":
            like_parts.append("%")
        elif interp == "midwild":
            # a mid-wildcard token can match logtype text, any var kind, or
            # span multiple message tokens ('ag*12' vs 'ag 12') — the only
            # sound candidate relaxation is '%'; the final wildcard verify
            # (always required here) restores exactness
            sq.wildcard_match_required = True
            like_parts.append("%")
        elif interp == "text":
            sq.wildcard_match_required = sq.wildcard_match_required or tok.has_wildcards
            like_parts.append(_token_text_like(tok))
        elif interp == "exact_var":
            sq.wildcard_match_required = True
            v = tok.literal_value()
            iv = encode_int(v)
            if iv is not None:
                like_parts.append(INT_PLACEHOLDER)
                sq.ordered_exact.append((0x11, str(iv)))
            else:
                fv = encode_float(v)
                if fv is not None:
                    like_parts.append(FLOAT_PLACEHOLDER)
                    sq.ordered_exact.append((0x13, str(fv)))
                else:
                    if not _exact_dict_constraint(
                        sq, like_parts, v, var_dict, ignore_case, probe_cache
                    ):
                        return None  # WontMatch
        elif isinstance(interp, tuple) and interp[0] == "sx":
            # schema-directed exact variable (operators/schema_archive.py):
            # the schema already decided the class and encoding, so no
            # int→float→dict cascade — the directive carries (code, value)
            sq.wildcard_match_required = True
            code, val = interp[1], interp[2]
            if code == 0x11:
                like_parts.append(INT_PLACEHOLDER)
                sq.ordered_exact.append((0x11, val))
            elif code == 0x13:
                like_parts.append(FLOAT_PLACEHOLDER)
                sq.ordered_exact.append((0x13, val))
            else:
                if not _exact_dict_constraint(
                    sq, like_parts, val, var_dict, ignore_case, probe_cache
                ):
                    return None  # WontMatch
        elif interp in ("wild_int", "wild_float", "wild_dict"):
            sq.wildcard_match_required = True
            if tok.prefix_star:
                like_parts.append("%")
            if interp == "wild_int":
                like_parts.append(INT_PLACEHOLDER)
            elif interp == "wild_float":
                like_parts.append(FLOAT_PLACEHOLDER)
            else:
                like_parts.append(DICT_PLACEHOLDER)
                content = tok.value_no_wildcards
                int_possible = all(c.isdigit() or c == "-" for c in content)
                float_possible = all(c.isdigit() or c in "-." for c in content)
                if content and not int_possible and not float_possible:
                    # must be a dictionary variable → probe with wildcards
                    matches = _probe_dict_cached(
                        probe_cache, var_dict, _token_wild_pattern(tok),
                        ignore_case, exact=False,
                    )
                    if not matches:
                        return None
                    if len(matches) <= MAX_DICT_CONSTRAINT_STRINGS:
                        sq.set_constraints.append(matches)
            if tok.suffix_star:
                like_parts.append("%")
        else:  # pragma: no cover
            raise AssertionError(interp)

    logtype_like = "".join(like_parts)
    if logtype_like == "%":
        return MATCH_ALL
    sq.logtype_like = logtype_like
    return sq


def _token_text_like(tok: QueryToken) -> str:
    parts = []
    for c, esc in tok.chars:
        if not esc and c == "*":
            parts.append("%")
        else:
            parts.append(_like_escape_lit(escape_constant(c)))
    return "".join(parts)


def _token_wild_pattern(tok: QueryToken) -> str:
    """CLP wildcard pattern of the token (escapes kept) for dict probing."""
    out = []
    for c, esc in tok.chars:
        if esc and c in "*?\\":
            out.append("\\" + c)
        else:
            out.append(c)
    return "".join(out)


def _probe_dict_cached(
    cache: dict, var_dict, pattern: str, ignore_case: bool, exact: bool
) -> list[str]:
    key = ("probe", pattern, ignore_case, exact)
    if key not in cache:
        cache[key] = _probe_dict(var_dict, pattern, ignore_case, exact)
    return cache[key]


def _probe_dict(var_dict, pattern: str, ignore_case: bool, exact: bool) -> list[str]:
    if exact:
        col = F.col("var_value")
        pred = F.lower(col) == pattern.lower() if ignore_case else col == pattern
    else:
        like = wildcard_to_like_pattern(pattern)
        pred = F.col("var_value").ilike(like) if ignore_case else F.col("var_value").like(like)
    rows = var_dict.where(pred).select("var_value").limit(
        MAX_DICT_CONSTRAINT_STRINGS + 1
    ).collect()
    return [r["var_value"] for r in rows]


# --------------------------------------------------------------- execution

TAGGED_VARS_EXPR = """
aggregate(
  placeholders,
  struct(cast(0 as int) as di, cast(array() as array<struct<k:int, v:string>>) as out),
  (s, p) -> struct(
    s.di + IF(p = 18, 1, 0),
    array_append(s.out, named_struct(
      'k', p,
      'v', IF(p = 18,
              element_at(dict_vars, s.di + 1),
              cast(element_at(encoded_vars, size(s.out) - s.di + 1) as string))))),
  s -> s.out)
"""


def tagged_vars_col() -> Column:
    """array<struct<k,v>> interleaving non-dict encoded values and dict strings
    in message order (recovers CLP's single variables column)."""
    return F.expr(TAGGED_VARS_EXPR)


def _subsequence_pred(tagged: Column, needle: list[tuple[int, str]]) -> Column:
    k = len(needle)
    needle_arr = F.array(
        *[
            F.struct(F.lit(kk).cast("int").alias("k"), F.lit(vv).alias("v"))
            for kk, vv in needle
        ]
    )
    state = F.aggregate(
        tagged,
        F.lit(0),
        lambda acc, x: F.when(
            (acc < F.lit(k)) & (x == F.element_at(needle_arr, acc + 1)), acc + 1
        ).otherwise(acc),
    )
    return state == F.lit(k)


def ids_in(col: str, ids: list) -> Column:
    """``col IN (ids)`` over integer dictionary ids as ONE parsed
    expression: `Column.isin` makes one py4j literal per id (0.29 s for
    1,000 ids on a 4-core host, against under 1 ms for this). [] matches
    nothing."""
    if not ids:
        return F.lit(False)
    return F.expr(f"`{col}` IN ({', '.join(str(int(i)) for i in ids)})")


def _ids_predicate(col: str, ids: list | None) -> Column:
    """None = probe exceeded MAX_ISIN_IDS → no id constraint (superset)."""
    return F.lit(True) if ids is None else ids_in(col, ids)


def candidate_logtype_ids(compiled) -> list | None:
    """Union of candidate logtype ids across subqueries, or None when any
    subquery has no id constraint (MATCH_ALL / capped probe) — the input to
    segment pruning (reference Query.cpp calculate_ids_of_matching_segments)."""
    if compiled == MATCH_ALL or not compiled:
        return None if compiled == MATCH_ALL else []
    out: set = set()
    for ids, _sq in compiled:
        if ids is None:
            return None
        out.update(ids)
    return sorted(out)


def _dict_contains(strings: list[str]):
    return lambda x: (x["k"] == F.lit(0x12)) & x["v"].isin(strings)


def verify_candidates(
    rows: DataFrame,
    subqueries: str | list[tuple[Column, SubQuery]],
    keep: list[str],
    query: str,
    ignore_case: bool,
) -> DataFrame:
    """The candidate → decode → verify tail shared by every text search.

    ``subqueries`` is MATCH_ALL or a list of (base predicate, SubQuery)
    pairs, the base being the caller's logtype-candidate test for that
    subquery. Each subquery ANDs its variable constraints onto its base;
    rows matching any subquery decode (keeping ``keep``) and re-verify
    against the whole query unless an exact subquery (no
    wildcard_match_required) already proves the match. MATCH_ALL decodes
    every row and verifies each. ``rows`` must carry the ``logtype``
    column the decode reads."""
    if subqueries == MATCH_ALL:
        # no subquery can narrow the scan (reference: SupercedesAllSubQueries)
        # → full scan, decode (mapInArrow numpy kernel — no per-row Python),
        # and verify the original query per message
        decoded = decode_df(rows, keep)
        return decoded.where(wildcard_match(F.col("message"), query, ignore_case))

    tagged = tagged_vars_col()
    candidate_preds = []
    exact_preds = []  # subqueries not requiring final verification
    for pred, sq in subqueries:
        if sq.ordered_exact:
            pred = pred & _subsequence_pred(tagged, sq.ordered_exact)
        for strings in sq.set_constraints:
            pred = pred & F.exists(tagged, _dict_contains(strings))
        candidate_preds.append(pred)
        if not sq.wildcard_match_required:
            exact_preds.append(pred)
    no_verify = reduce(or_, exact_preds) if exact_preds else F.lit(False)

    # the exact-subquery flag is computed on the encoded columns BEFORE the
    # decode stage drops them, then carried through mapInArrow as a column
    candidates = rows.where(reduce(or_, candidate_preds)).withColumn(
        "_no_verify", no_verify
    )
    decoded = decode_df(candidates, keep + ["_no_verify"])
    final = F.col("_no_verify") | wildcard_match(F.col("message"), query, ignore_case)
    return decoded.where(final)


def search_archive(
    sinks: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    query: str,
    ignore_case: bool = False,
    compiled=None,
    ts_patterns: list[str] | None = None,
) -> DataFrame:
    """Matched rows (doc_id, source, logtype_id, message[, ts_ms]) for a CLP
    wildcard query; ts_ms comes along whenever the sinks carry it. Pass
    ``compiled`` (a compile_query result) to reuse an existing compilation
    — e.g. after segment pruning already probed the dictionaries.
    ``ts_patterns`` is the archive's recorded timestamp patterns
    (metadata.json); None re-renders with every known pattern."""
    # text-log archives carry each message's timestamp: it rides along in
    # the result (count-by-time, latest-N and the binary/network outputs
    # read it there) and, with a stored pattern, is re-rendered into the
    # matched message — clg prints the full original line; the wildcard
    # MATCHES the stored body (the reference's logtype excludes the
    # timestamp), so restore runs after the verify and never changes which
    # rows match
    ts = ["ts_ms"] if "ts_ms" in sinks.columns else []
    has_pat = bool(ts) and "ts_pat" in sinks.columns
    keep = ["doc_id", "source", "logtype_id"] + ts + (["ts_pat"] if has_pat else [])

    def _finish(df: DataFrame) -> DataFrame:
        if has_pat:
            from clp_spark.functions.timestamps import restore_timestamp

            df = df.withColumn(
                "message",
                restore_timestamp(F.col("message"), F.col("ts_ms"),
                                  F.col("ts_pat"), ts_patterns),
            )
        return df.select("doc_id", "source", "logtype_id", "message", *ts)

    with_lt = sinks.join(F.broadcast(logtype_dict.select("logtype_id", "logtype")),
                         "logtype_id", "left") if "logtype" not in sinks.columns else sinks

    if compiled is None:
        compiled = compile_query(query, logtype_dict, var_dict, ignore_case)
    if not compiled:
        return _finish(decode_df(with_lt, keep).where(F.lit(False)))
    subqueries = compiled if compiled == MATCH_ALL else [
        (_ids_predicate("logtype_id", ids), sq) for ids, sq in compiled
    ]
    return _finish(verify_candidates(with_lt, subqueries, keep, query, ignore_case))


def search_archive_dir(
    spark,
    archive_dir: str,
    query: str | list[str],
    ignore_case: bool = False,
    where: Column | None = None,
) -> tuple[DataFrame, list | None]:
    """The whole single-archive search over an on-disk archive: read the
    dictionaries and sinks once, compile (schema-aware when the archive
    stores a schema file), narrow the scan, then run `search_archive`.
    ``query`` is one wildcard query or a list of them OR'd together (clg
    -f: a message matching several is returned once).

    The scan is narrowed by the GLT logtype tables (`lt_table` partition
    filter) on GLT archives, by the segment index (only the candidate
    `split=` directories are listed) when one exists, and not at all
    otherwise; only local archives are probed for either, and only a local
    archive's metadata.json names the timestamp patterns to re-render
    (others re-render with every known pattern). ``where`` is a
    predicate on the encoded sink columns (file and time filters), applied
    before the decode. Returns (results, scanned segment ids or GLT table
    names — None when the scan was not narrowed)."""
    import os

    from clp_spark.operators.federation import recorded_ts_patterns
    from clp_spark.operators.glt import glt_sinks_pruned, read_glt_manifest
    from clp_spark.operators.schema_archive import (
        archive_schema_text,
        compile_schema_query,
        load_log_schema,
    )
    from clp_spark.operators.seg_index import matching_segments

    queries = [query] if isinstance(query, str) else list(query)
    lt = spark.read.parquet(f"{archive_dir}/logtype_dict")
    vd = spark.read.parquet(f"{archive_dir}/var_dict")
    schema = archive_schema_text(archive_dir)
    if schema is not None:
        sf = load_log_schema(schema)
        compiled = [compile_schema_query(q, lt, vd, sf, ignore_case) for q in queries]
    else:
        compiled = [compile_query(q, lt, vd, ignore_case) for q in queries]
    ids: list | None = []
    for c in compiled:
        c_ids = candidate_logtype_ids(c)
        ids = None if ids is None or c_ids is None else sorted({*ids, *c_ids})

    local = "://" not in archive_dir or archive_dir.startswith("file:")
    root = archive_dir.removeprefix("file:")
    sinks_dir = f"{archive_dir}/sinks"
    sinks = spark.read.option("basePath", sinks_dir).parquet(sinks_dir)
    manifest = read_glt_manifest(archive_dir) if local else None
    pruned = None
    if manifest is not None:
        sinks, pruned = glt_sinks_pruned(sinks, manifest, lt, ids)
    elif local and os.path.exists(f"{root}/seg_index") and "split" in sinks.columns:
        pruned = matching_segments(spark.read.parquet(f"{archive_dir}/seg_index"), ids)
        if pruned:
            sinks = spark.read.option("basePath", sinks_dir).parquet(
                *[os.path.join(sinks_dir, f"split={s}") for s in pruned]
            )
        elif pruned == []:
            sinks = sinks.where(F.lit(False))
    if where is not None:
        sinks = sinks.where(where)
    if "doc_id" not in sinks.columns:  # text-log archives key by file/msg
        sinks = sinks.withColumn(
            "doc_id", F.concat_ws("#", "file_id", "msg_ix")
        ).withColumn("source", F.col("file_id"))
    ts_patterns = recorded_ts_patterns(archive_dir)
    res = reduce(DataFrame.unionByName, [
        search_archive(sinks, lt, vd, q, ignore_case, compiled=c,
                       ts_patterns=ts_patterns)
        for q, c in zip(queries, compiled)
    ])
    if len(queries) > 1:
        res = res.dropDuplicates(["doc_id"])
    return res, pruned
