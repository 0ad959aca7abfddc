"""Schema-defined archives + schema-aware query compilation.

The reference has two query-compilation modes. The default heuristic mode
guesses variable types from token shape; with a user schema file
(``--schema-path``) it instead asks the schema's own regex rules which
variable types a query token could be — log-surgeon DFA intersection,
``use_heuristic == false`` in GrepCore::process_raw_query (reference:
components/core/src/clp/GrepCore.hpp:139-247 schema-lexer overloads,
components/core/tests/test-Grep.cpp get_bounds_of_next_potential_var
schema cases, and the clp `c --schema-path` ingestion path in
clp/FileCompressor.cpp parse_and_encode with a loaded lexer).

This module supplies both halves Spark-first:

* **Typed encode** (`schema_typed_encode`): messages → the engine's standard
  (logtype, placeholders, encoded_vars, dict_vars) shape under the schema's
  rules, entirely in JVM expressions (regexp_replace / regexp_extract_all /
  array HOFs — no Python on the data path). Rules named ``int`` / ``float``
  become encoded variables (same int64 encodings as the default tokenizer,
  with the same encode-must-round-trip guard); every other rule — and the
  timestamp header token — becomes a dictionary variable, so the existing
  archive writer, decoder, and search executor work unchanged.
* **Schema-aware compile** (`compile_schema_query`): wildcard query tokens
  are intersected with each rule's regex via a Thompson NFA
  (functions/regex_nfa.py) to enumerate exactly the interpretations the
  schema permits, replacing the heuristic `_interpretations`. Exact tokens
  classify deterministically (first rule whose regex fullmatches — the same
  priority order the encoder uses), so encode and search always agree.

Escaping invariant: the encoder escapes '\\' and the three placeholder
bytes in logtype constants exactly like the default kernel
(oracle/encoder.escape_constant), so decode_df round-trips byte-exact.
Because every rule match is delimiter-bounded and '\\' is never a
delimiter (validated), an unescaped marker byte can never be preceded by a
backslash — which makes the marker→placeholder rewrite exact even when the
input text itself contains backslashes.

Known divergences (documented, not silent): schema timestamps are stored
as dictionary variables (searchable text, byte-exact round trip) rather
than epoch+pattern; ts_ms is a best-effort parse of the assembled message
with the built-in patterns. Rules that explicitly match backslash
sequences see the escaped text during the scan.
"""

from __future__ import annotations

import os
import re
from itertools import product

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clp_spark.functions.regex_nfa import (
    RegexNfaError,
    compile_regex,
    wildcard_units,
)
from clp_spark.functions.wildcard import clean_up_wildcard_query
from clp_spark.operators.custom_schema import (
    SchemaFile,
    SchemaFileError,
    _delim_char_class,
    _localize_dots,
    load_log_schema,
    schema_file_rules,
)
from clp_spark.oracle.encoder import encode_float as py_encode_float
from clp_spark.oracle.encoder import encode_int as py_encode_int

SCHEMA_FILE_NAME = "schema.txt"

_INT_RX = "^(0|-?[1-9][0-9]*)$"
_FLOAT_RX = r"^-?[0-9]*\.[0-9]*$"
# '\' plus the three placeholder bytes — escape_constant's exact set
_ESCAPE_RX = "([\\\\\x11\x12\x13])"
# markers are never backslash-preceded (rule matches are delimiter-bounded
# and '\' is never a delimiter); escaped literal \x12 bytes always are
_MARKER_SPLIT_RX = "(?<!\\\\)\x12"


# ------------------------------------------------------------ JVM encoders


def int_encodable_col(v: Column) -> Column:
    """oracle.encoder.encode_int's acceptance, as a Column predicate: no
    '+', no zero padding, '-' needs 1-9 next, fits int64 (try_cast)."""
    return v.rlike(_INT_RX) & v.try_cast("bigint").isNotNull()


def float_encodable_col(v: Column) -> Column:
    """encode_float's acceptance: digits + exactly one '.', not in last
    place, 1..16 digits, optional leading '-'."""
    nd = F.length(F.regexp_replace(v, "[-.]", ""))
    return (
        v.rlike(_FLOAT_RX) & ~v.endswith(".") & (nd >= 1) & (nd <= 16)
    )


def float_pack_col(v: Column) -> Column:
    """encode_float's bit layout (1 sign | 1 unused | 54 digits | 4 nd-1 |
    4 dp-1) as JVM long arithmetic; Java shiftleft wraps exactly like the
    reference's uint64→int64 bit-cast."""
    neg = v.startswith("-")
    core = F.when(neg, F.substr(v, F.lit(2))).otherwise(v)
    digits_str = F.regexp_replace(core, "\\.", "")
    nd = F.length(digits_str).cast("long")
    digits = digits_str.try_cast("bigint")
    dp = (F.length(core) - F.instr(core, ".")).cast("long")
    sign = F.when(neg, F.lit(1)).otherwise(F.lit(0)).cast("long")
    return F.shiftleft(
        F.shiftleft(F.shiftleft(sign, 55).bitwiseOR(digits), 4).bitwiseOR(nd - 1),
        4,
    ).bitwiseOR(dp - 1)


# ------------------------------------------------------------- typed encode


def _header_alternatives(sf: SchemaFile) -> list[str]:
    return [f"^(?:{h})" for h in sf.headers]


def _combined_typed_pattern(sf: SchemaFile) -> str:
    alts = _header_alternatives(sf) + [p for _, p in schema_file_rules(sf)]
    return "(" + "|".join(alts) + ")"


def _class_rules(sf: SchemaFile) -> list[tuple[str, str, str]]:
    """(name, fullmatch-body regex, class) in priority order — headers
    first (dict class), then file order; class from the reserved rule
    names ``int`` / ``float`` (log-surgeon's typed rules), everything else
    a dictionary variable."""
    cc = _delim_char_class(sf.delimiters or "")
    out = [("timestamp", h, "dict") for h in sf.headers]
    for name, p in sf.rules:
        klass = name if name in ("int", "float") else "dict"
        out.append((name, _localize_dots(p, cc), klass))
    return out


def _var_code(v: Column, class_rules) -> Column:
    """Placeholder code (0x11/0x12/0x13) of one extracted variable: first
    rule whose regex fullmatches decides the class; int/float fall back to
    dict when the value doesn't round-trip through the integer encodings —
    the default kernel's guard."""
    expr: Column = F.lit(0x12)
    for _name, rx, klass in reversed(class_rules):
        cond = v.rlike(f"^(?:{rx})$")
        if klass == "int":
            code = F.when(int_encodable_col(v), F.lit(0x11)).otherwise(F.lit(0x12))
        elif klass == "float":
            code = F.when(float_encodable_col(v), F.lit(0x13)).otherwise(
                F.lit(0x12)
            )
        else:
            code = F.lit(0x12)
        expr = F.when(cond, code).otherwise(expr)
    return expr.cast("int")


def _code_char(c: Column) -> Column:
    return (
        F.when(c == 0x11, F.lit("\x11"))
        .when(c == 0x13, F.lit("\x13"))
        .otherwise(F.lit("\x12"))
    )


def schema_typed_encode(
    df: DataFrame, msg_col: str, sf: SchemaFile, keep: list[str] | None = None
) -> DataFrame:
    """(keep..., logtype, placeholders, encoded_vars, dict_vars) under the
    schema file — the same shape encode_df emits, so dictionaries, sinks,
    search, and decode run unchanged."""
    if "\\" in (sf.delimiters or ""):
        raise SchemaFileError(
            "schema archives do not support '\\' as a delimiter (it is the "
            "logtype escape character)"
        )
    keep = keep or []
    combined = _combined_typed_pattern(sf)
    class_rules = _class_rules(sf)
    m = F.col(msg_col)
    esc = F.regexp_replace(m, _ESCAPE_RX, "\\\\$1")
    marked = F.regexp_replace(esc, combined, "\x12")
    vars_esc = F.regexp_extract_all(esc, F.lit(combined), 1)
    vars_raw = F.transform(
        vars_esc, lambda x: F.regexp_replace(x, "\\\\(.)", "$1")
    )
    codes = F.transform(vars_raw, lambda v: _var_code(v, class_rules))
    segs = F.split(marked, _MARKER_SPLIT_RX, -1)
    logtype = F.concat(
        F.aggregate(
            F.zip_with(
                F.slice(segs, 1, F.size(codes)),
                codes,
                lambda s, c: F.concat(s, _code_char(c)),
            ),
            F.lit(""),
            lambda acc, x: F.concat(acc, x),
        ),
        F.element_at(segs, -1),
    )
    pairs = F.zip_with(
        vars_raw, codes, lambda v, c: F.struct(v.alias("v"), c.alias("c"))
    )
    encoded_vars = F.transform(
        F.filter(pairs, lambda x: x["c"] != 0x12),
        lambda x: F.when(
            x["c"] == 0x11, x["v"].try_cast("bigint")
        ).otherwise(float_pack_col(x["v"])),
    )
    dict_vars = F.transform(
        F.filter(pairs, lambda x: x["c"] == 0x12), lambda x: x["v"]
    )
    return df.select(
        *keep,
        logtype.alias("logtype"),
        codes.alias("placeholders"),
        encoded_vars.alias("encoded_vars"),
        dict_vars.alias("dict_vars"),
    )


# ---------------------------------------------------------------- assembly


def assemble_schema_messages(
    lines: DataFrame,
    sf: SchemaFile,
    file_col: str = "file_id",
    lineno_col: str = "line_no",
    line_col: str = "line",
) -> DataFrame:
    """lines → messages delimited by the schema's timestamp rule: a line
    matching a header regex at position 0 starts a new event, others are
    continuations (the schema-lexer analog of MessageParser.cpp; with no
    header rule every line is its own event). Leading preamble lines form
    message 0, like the built-in assembler. ts_ms is a best-effort built-in
    parse of the assembled head line (schema headers carry no epoch
    semantics of their own)."""
    from clp_spark.functions.timestamps import parse_timestamp_ms

    if sf.headers:
        start_rx = "^(?:" + "|".join(sf.headers) + ")"
        is_start = F.col(line_col).rlike(start_rx)
    else:
        is_start = F.lit(True)
    w = (
        Window.partitionBy(file_col)
        .orderBy(lineno_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = lines.withColumn(
        "_msg_ix", F.sum(is_start.cast("int")).over(w)
    )
    grouped = numbered.groupBy(file_col, "_msg_ix").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col(lineno_col).alias("l"),
                            F.col(line_col).alias("b"),
                        )
                    )
                ),
                lambda x: x["b"],
            ),
            "\n",
        ).alias("message")
    )
    return grouped.select(
        file_col,
        F.col("_msg_ix").cast("long").alias("msg_ix"),
        parse_timestamp_ms(F.col("message")).alias("ts_ms"),
        "message",
    )


# ------------------------------------------------------------- compression


def compress_schema_logs(
    spark: SparkSession, paths: str | list[str], out_dir: str, schema_text: str
) -> dict:
    """Text → archive under a user schema file (`clp c --schema-path`).
    Layout matches compress_text_logs (sinks/logtype_dict/var_dict +
    metadata), plus the schema file itself at ``schema.txt`` so search
    auto-selects schema-aware compilation."""
    from clp_spark.operators.dictionary import assign_sorted_ids
    from clp_spark.operators.federation import write_archive_metadata
    from clp_spark.sources.logfiles import (
        list_local_log_files,
        read_log_lines_any,
    )

    sf = load_log_schema(schema_text)
    plist = [paths] if isinstance(paths, str) else list(paths)
    if not any("://" in p and not p.startswith("file:") for p in plist):
        plist = list_local_log_files(plist)
    lines = read_log_lines_any(spark, plist)
    keys = ["file_id", "msg_ix", "ts_ms"]
    messages = assemble_schema_messages(lines, sf)
    enc = schema_typed_encode(messages, "message", sf, keys).persist()
    logtype_dict = assign_sorted_ids(
        enc.select("logtype"), "logtype", "logtype_id"
    )
    var_dict = assign_sorted_ids(
        enc.select(F.explode("dict_vars").alias("var_value")),
        "var_value",
        "var_id",
    )
    logtype_dict.write.mode("overwrite").parquet(f"{out_dir}/logtype_dict")
    var_dict.write.mode("overwrite").parquet(f"{out_dir}/var_dict")
    sinks = enc.join(
        F.broadcast(logtype_dict.select("logtype", "logtype_id")), "logtype"
    ).select(
        *keys, "logtype_id", "placeholders", "encoded_vars", "dict_vars"
    )
    (
        sinks.sortWithinPartitions("file_id", "logtype_id", "msg_ix")
        .write.mode("overwrite")
        .partitionBy("file_id")
        .parquet(f"{out_dir}/sinks")
    )
    local = (
        out_dir.removeprefix("file:")
        if "://" not in out_dir or out_dir.startswith("file:")
        else None
    )
    if local is not None:
        with open(os.path.join(local, SCHEMA_FILE_NAME), "w") as f:
            f.write(schema_text)
    meta = write_archive_metadata(spark, out_dir)
    out = {
        "messages": meta["messages"],
        "logtypes": logtype_dict.count(),
        "variables": var_dict.count(),
    }
    enc.unpersist()
    return out


def archive_schema_text(archive_dir: str) -> str | None:
    """The archive's stored schema file, or None for heuristic archives."""
    if "://" in archive_dir and not archive_dir.startswith("file:"):
        return None
    p = os.path.join(archive_dir.removeprefix("file:"), SCHEMA_FILE_NAME)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return f.read()


# -------------------------------------------------- schema-aware compile


class _SchemaRule:
    __slots__ = ("name", "klass", "nfa", "py_rx", "is_header")

    def __init__(self, name, klass, nfa, py_rx, is_header):
        self.name = name
        self.klass = klass
        self.nfa = nfa  # CompiledRegex | None (None = assume intersects)
        self.py_rx = py_rx  # re.Pattern | None for exact classification
        self.is_header = is_header


def _nfa_rules(sf: SchemaFile) -> list[_SchemaRule]:
    out: list[_SchemaRule] = []
    specs = [("timestamp", h, "dict", True) for h in sf.headers] + [
        (name, p, name if name in ("int", "float") else "dict", False)
        for name, p in sf.rules
    ]
    for name, p, klass, is_header in specs:
        try:
            nfa = compile_regex(p)
        except RegexNfaError:
            nfa = None  # conservative: treat as intersecting everything
        try:
            py_rx = re.compile(f"(?:{p})\\Z")
        except re.error:
            py_rx = None
        out.append(_SchemaRule(name, klass, nfa, py_rx, is_header))
    return out


def _in_header_possible(tok, rules: list[_SchemaRule]) -> bool:
    """Could this query token's text occur INSIDE a header-matched variable?

    Header variables (timestamps) contain delimiter characters, so query
    tokenization slices right through their stored values — '07' from a
    '*07:34:06*' query is a bare token but lives inside one dictionary
    variable. Tested as: STAR + token-units + STAR intersects the header
    language (delimiters allowed — we're inside the var)."""
    from clp_spark.functions.regex_nfa import STAR
    from clp_spark.operators.search import _token_wild_pattern

    units = [STAR] + wildcard_units(_token_wild_pattern(tok)) + [STAR]
    for r in rules:
        if not r.is_header:
            continue
        if r.nfa is None or r.nfa.intersects_wildcard(units, excluded=""):
            return True
    return False


def schema_interpretations(tok, rules: list[_SchemaRule], delimiters: str):
    """Interpretation choices of one query token under the schema — the
    use_heuristic=false replacement for search._interpretations.

    Exact tokens classify deterministically: the first rule whose regex
    fullmatches (the encoder replaced every such token, so 'text' is
    impossible), yielding a ('sx', code, value) directive; no rule → pure
    logtype text. Wildcard tokens enumerate 'text' plus one wild_<class>
    per rule class whose language intersects the token's wildcard language
    (NFA simulation; '*' never crosses a delimiter except for header rules,
    whose stored values may contain them). Either kind additionally gains
    'in_header' when the token could sit inside a header variable."""
    if tok.is_wildcard_only:
        return ["star"]
    if tok.has_mid_wildcard:
        return ["midwild"]
    if not tok.has_wildcards:
        v = tok.literal_value()
        base: list | None = None
        for r in rules:
            if r.py_rx is not None and r.py_rx.match(v):
                if r.klass == "int":
                    iv = py_encode_int(v)
                    if iv is not None:
                        base = [("sx", 0x11, str(iv))]
                        break
                elif r.klass == "float":
                    fv = py_encode_float(v)
                    if fv is not None:
                        base = [("sx", 0x13, str(fv))]
                        break
                base = [("sx", 0x12, v)]
                break
        if base is None:
            base = ["text"]
        if _in_header_possible(tok, rules):
            base.append("in_header")
        return base
    from clp_spark.operators.search import _token_wild_pattern

    units = wildcard_units(_token_wild_pattern(tok))
    interps: list = ["text"]
    for r in rules:
        excluded = "" if r.is_header else (delimiters or "")
        hit = (
            True
            if r.nfa is None
            else r.nfa.intersects_wildcard(units, excluded=excluded)
        )
        if not hit:
            continue
        if r.klass == "int" and "wild_int" not in interps:
            interps.append("wild_int")
        elif r.klass == "float" and "wild_float" not in interps:
            interps.append("wild_float")
        if "wild_dict" not in interps:
            # int/float rules also add the dict form: values matching the
            # rule but failing the round-trip guard were stored as dicts
            interps.append("wild_dict")
    if _in_header_possible(tok, rules):
        interps.append("in_header")
    return interps


def _build_header_subquery(units, tok_ix, combo, var_dict, ignore_case, cache):
    """A combo that places ANY token inside the header variable collapses to
    the header-prefix form: logtype starts with the (dict) header
    placeholder, and each in-header token must appear as a substring of
    some dictionary variable (probed constraint). Everything else about the
    combo is discarded — a superset whose exactness the mandatory final
    wildcard verification restores. Deduped by the caller's seen-set, so
    all header combos of one query cost one subquery."""
    from clp_spark.operators.search import (
        MAX_DICT_CONSTRAINT_STRINGS,
        DICT_PLACEHOLDER,
        SubQuery,
        _probe_dict_cached,
        _token_wild_pattern,
    )

    sq = SubQuery(
        logtype_like=DICT_PLACEHOLDER + "%", wildcard_match_required=True
    )
    for i, interp in zip(tok_ix, combo):
        if interp != "in_header":
            continue
        tok = units[i][1]
        pattern = "*" + _token_wild_pattern(tok) + "*"
        matches = _probe_dict_cached(cache, var_dict, pattern, ignore_case, False)
        if not matches:
            return None  # the token occurs in no stored variable
        if len(matches) <= MAX_DICT_CONSTRAINT_STRINGS:
            sq.set_constraints.append(matches)
    return sq


def compile_schema_subqueries(
    query: str,
    var_dict: DataFrame,
    sf: SchemaFile,
    ignore_case: bool = False,
):
    """compile_subqueries with schema-driven interpretations (same SubQuery
    output, same MATCH_ALL degradation)."""
    from clp_spark.operators.search import (
        MATCH_ALL,
        MAX_ENUMERATIONS,
        _build_subquery,
        _relax_unescaped_question_marks,
        tokenize_query,
    )

    processed = clean_up_wildcard_query(_relax_unescaped_question_marks(query))
    units = tokenize_query(processed, delimiters=set(sf.delimiters or ""))
    rules = _nfa_rules(sf)
    tok_ix = [i for i, (kind, _) in enumerate(units) if kind == "token"]
    choices = [
        schema_interpretations(units[i][1], rules, sf.delimiters or "")
        for i in tok_ix
    ]
    n_combos = 1
    for c in choices:
        n_combos *= len(c)
    if n_combos > MAX_ENUMERATIONS:
        return MATCH_ALL  # full-scan superset; final verify restores exactness
    combos = list(product(*choices)) if choices else [()]
    probe_cache: dict = {}
    subqueries = []
    seen: set = set()
    for combo in combos:
        if "in_header" in combo:
            sq = _build_header_subquery(
                units, tok_ix, combo, var_dict, ignore_case, probe_cache
            )
        else:
            sq = _build_subquery(
                units, tok_ix, combo, var_dict, ignore_case, probe_cache
            )
        if sq is None:
            continue
        if sq == MATCH_ALL:
            return MATCH_ALL
        # unlike the heuristic dedupe, the key includes set_constraints:
        # header combos share a logtype_like but differ in (conjunctive)
        # constraints, and keeping only the first would let a MORE
        # constrained variant shadow a less constrained one — a false
        # negative, not a dedupe
        key = (
            sq.logtype_like,
            tuple(sq.ordered_exact),
            tuple(tuple(c) for c in sq.set_constraints),
            sq.wildcard_match_required,
        )
        if key in seen:
            continue
        seen.add(key)
        subqueries.append(sq)
    return subqueries


def compile_schema_query(
    query: str,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    sf: SchemaFile,
    ignore_case: bool = False,
):
    """→ MATCH_ALL | list[(logtype_ids, SubQuery)] — drop-in for
    search.compile_query over schema archives."""
    from clp_spark.operators.search import MATCH_ALL, resolve_logtype_ids

    subqueries = compile_schema_subqueries(query, var_dict, sf, ignore_case)
    if subqueries == MATCH_ALL:
        return MATCH_ALL
    return resolve_logtype_ids(subqueries, logtype_dict, ignore_case)
