"""Decompression: reconstruct original messages from encoded rows.

CLP's `x` / JSON-constructor path (reference:
components/core/src/clp/clp/FileDecompressor.cpp,
EncodedVariableInterpreter::decode_variables_into_message
EncodedVariableInterpreter.hpp:510-579): walk the logtype, substituting each
placeholder with the next variable (int → digits, float → bit-unpacked
digits, dict id → dictionary string), honoring '\\' escapes.

Spark shape: the *decode join* — events ⋈ logtype_dict (broadcast) for the
template, dict variables either stored inline (our sinks keep dict_vars
strings) or joined from var_dict by id. The string assembly is the
fully-vectorized numpy buffer-splice kernel (decode_kernel_np), run over
each Arrow batch by ``decode_df``'s mapInArrow function — no per-row Python
and no pandas conversion. Callers whose rows carry ``logtype_id`` join the
logtype dictionary (broadcast) before decoding.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame

from clp_spark.functions.decode_kernel_np import decode_arrays


def make_decode_arrow(passthrough: list[str], out_col: str = "message"):
    """mapInArrow function: RecordBatch(passthrough + logtype + encoded_vars +
    dict_vars) → RecordBatch(passthrough + message). Zero per-row Python in
    either direction."""

    def _fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            msg = decode_arrays(
                batch.column("logtype"),
                batch.column("encoded_vars"),
                batch.column("dict_vars"),
            )
            arrays = [batch.column(c) for c in passthrough] + [msg]
            yield pa.RecordBatch.from_arrays(arrays, passthrough + [out_col])

    return _fn


def decode_df(df: DataFrame, passthrough: list[str], out_col: str = "message") -> DataFrame:
    """DataFrame-level decode: passthrough + message via mapInArrow."""
    types = dict(zip(df.columns, [f.dataType.simpleString() for f in df.schema.fields]))
    df = df.select(*passthrough, "logtype", "encoded_vars", "dict_vars")
    out_schema = ", ".join(
        [f"{c} {types[c]}" for c in passthrough] + [f"{out_col} string"]
    )
    return df.mapInArrow(make_decode_arrow(passthrough, out_col), out_schema)

