"""Seeded corpora for the benchmark workloads, with their expected answers.

    python3 perfbench/corpus.py WORKLOAD SEED OUT_DIR

writes the workload's input files under OUT_DIR and OUT_DIR/truth.json: the
query mix and, for every operation, the answer the engine must give. The
answers come from the generator's own records through perfbench/expect.py.
Run as its own process so that corpus memory never counts in the
benchmark's peak RSS.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import re
import sys

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import expect

# seq_pipeline: rows of the sequences table (16 parquet parts) and the warm
# slice. Rows are drawn with replacement, by the run's seed, from one pool
# made by synth.generate_sequences at the fixtures seed: every seed then sees
# the same templates and vocabulary skew, so dictionary sizes (and with them
# most timings) do not swing from seed to seed the way they do when the
# templates themselves are redrawn (51k-107k logtypes over five seeds).
SEQ_POOL_SEED = 42
SEQ_ROWS = 150_000
SEQ_PARTS = 16
SEQ_WARM_ROWS = 30_000

# text_archive: timestamped events over TEXT_FILES files, a few hundred
# Zipf-weighted templates, ~10 % of events carrying continuation lines. The
# templates come from a fixed seed, as the seq pool does; the run's seed
# draws the events, variable values, timestamps and query values.
TEXT_TEMPLATE_SEED = 42
TEXT_EVENTS = 40_000
TEXT_FILES = 8
TEXT_TEMPLATES = 300
TEXT_ZIPF_S = 1.1
TEXT_CONT_P = 0.10
TEXT_WARM_EVENTS = 400  # per warm-up file, two files
COUNT_BUCKET_MS = 60_000
VAR_QUERY_RANK = 10  # templates the int/float/id queries are drawn from
VAR_QUERY_MIN_LEN = 3

NOHIT = "qqzz 31337"  # 'q' never appears in generated text
_CONSONANTS = "bcdfghjklmnprstvwxz"  # no 'q'
_VOWELS = "aeiou"
_LEVELS = ["INFO", "INFO", "INFO", "WARN", "ERROR", "DEBUG"]
_ID_PREFIXES = ["task", "user", "req", "blk", "container", "job", "node"]


def _word(rng: random.Random, syllables: int) -> str:
    return "".join(rng.choice(_CONSONANTS) + rng.choice(_VOWELS) for _ in range(syllables))


def _zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (k ** s) for k in range(1, n + 1)]


# ---------------------------------------------------------------- text_archive


def _text_templates(rng: random.Random) -> list[dict]:
    """Each template: level plus a list of parts, a part being a constant
    word or a variable slot ('int', 'float', 'hex', 'id')."""
    words = sorted({_word(rng, rng.randint(2, 3)) for _ in range(1200)})
    templates = []
    for _ in range(TEXT_TEMPLATES):
        n_const = rng.randint(3, 8)
        n_var = rng.randint(1, 4)
        parts: list[tuple[str, str]] = [("const", rng.choice(words)) for _ in range(n_const)]
        for _ in range(n_var):
            kind = rng.choice(["int", "int", "float", "hex", "id"])
            # every variable follows a constant word, as in 'took 42 ms'
            pos = rng.randint(1, len(parts))
            parts.insert(pos, ("var", kind))
        templates.append({"level": rng.choice(_LEVELS), "parts": parts})
    return templates


def _text_var(rng: random.Random, kind: str) -> str:
    if kind == "int":
        return str(rng.randrange(10 ** rng.randint(1, 6)))
    if kind == "float":
        return f"{rng.randrange(10_000)}.{rng.randrange(1000):03d}"
    if kind == "hex":
        return "".join(rng.choice("0123456789abcdef") for _ in range(8))
    return f"{rng.choice(_ID_PREFIXES)}_{rng.randrange(5000)}"


def _ts_text(ts_ms: int) -> str:
    dt = datetime.datetime.fromtimestamp(ts_ms / 1000, tz=datetime.timezone.utc)
    return dt.strftime("%Y-%m-%d %H:%M:%S") + f",{ts_ms % 1000:03d}"


def text_events(seed: int) -> tuple[list[dict], list[dict]]:
    """(templates, events); events are dicts with file, ts_ms, template,
    vars, text (the whole event, continuation lines included) and body
    (the event without its leading timestamp)."""
    templates = _text_templates(random.Random(TEXT_TEMPLATE_SEED))
    rng = random.Random(seed)
    weights = _zipf_weights(TEXT_TEMPLATES, TEXT_ZIPF_S)
    tids = rng.choices(range(TEXT_TEMPLATES), weights=weights, k=TEXT_EVENTS)
    ts = 1_700_000_000_000 + rng.randrange(86_400_000)
    events = []
    for i, tid in enumerate(tids):
        ts += rng.randrange(40)
        tmpl = templates[tid]
        vals = []
        pieces = []
        for kind, val in tmpl["parts"]:
            if kind == "const":
                pieces.append(val)
            else:
                v = _text_var(rng, val)
                vals.append(v)
                pieces.append(v)
        body = f" {tmpl['level']} " + " ".join(pieces)
        if rng.random() < TEXT_CONT_P:
            for _ in range(rng.randint(1, 2)):
                cls = _word(rng, 2).capitalize()
                body += f"\n\tat {cls}.{_word(rng, 2)}({cls}.java:{rng.randrange(2000)})"
        events.append({
            "file": i % TEXT_FILES, "ts_ms": ts, "template": tid, "vars": vals,
            "body": body, "text": _ts_text(ts) + body,
        })
    return templates, events


def _const_pair(tmpl: dict) -> str:
    """Two adjacent constant words of a template (a constant-only query)."""
    parts = tmpl["parts"]
    for (k1, v1), (k2, v2) in zip(parts, parts[1:]):
        if k1 == "const" and k2 == "const":
            return f"{v1} {v2}"
    return next(v for k, v in parts if k == "const")


def _var_query(rng: random.Random, templates, events, kind: str) -> str:
    """'<constant> <value>' for a variable of `kind` taken from a real event.

    The template is fixed: the most frequent one from rank VAR_QUERY_RANK on
    whose first `kind` variable follows a constant. Only the event, and with
    it the value, is drawn by the seed, so the query's candidate rows (and its
    cost) stay the same from seed to seed; when any event allows it the value
    has at least VAR_QUERY_MIN_LEN characters, which keeps the query
    selective."""
    for tid in range(VAR_QUERY_RANK, len(templates)):
        parts = templates[tid]["parts"]
        slots = [j for j, (k, v) in enumerate(parts) if k == "var"]
        first = next((j for j in slots if parts[j][1] == kind), None)
        if first is not None and parts[first - 1][0] == "const":
            break
    else:
        raise AssertionError(f"no template has a {kind} variable after a constant")
    vi = slots.index(first)
    values = [e["vars"][vi] for e in events if e["template"] == tid]
    values = [v for v in values if len(v) >= VAR_QUERY_MIN_LEN] or values
    return f"{parts[first - 1][1]} {rng.choice(values)}"


def text_queries(seed: int, templates, events) -> list[dict]:
    """The fixed `s` mix: name, query, extra flags."""
    rng = random.Random(seed * 7919 + 1)
    by_rank = templates  # template index is its Zipf rank
    int_q = _var_query(rng, templates, events, "int")
    head, _, digits = int_q.rpartition(" ")
    pos = rng.randrange(len(digits))
    int_wild = (head + " " if head else "") + digits[:pos] + "?" + digits[pos + 1:]
    consts = [v for k, v in by_rank[40]["parts"] if k == "const"]
    return [
        {"name": "nohit", "query": NOHIT, "flags": []},
        {"name": "int", "query": int_q, "flags": []},
        {"name": "float", "query": _var_query(rng, templates, events, "float"), "flags": []},
        {"name": "dictvar", "query": _var_query(rng, templates, events, "id"), "flags": []},
        {"name": "const", "query": _const_pair(by_rank[20]), "flags": []},
        {"name": "broad", "query": _const_pair(by_rank[0]), "flags": []},
        {"name": "int_qmark", "query": int_wild, "flags": []},
        {"name": "mid_star", "query": f"{consts[0]}*{consts[-1]}", "flags": []},
        {"name": "count", "query": _const_pair(by_rank[2]), "flags": ["--count"]},
        {"name": "count_by_time", "query": _const_pair(by_rank[4]),
         "flags": ["--count-by-time", str(COUNT_BUCKET_MS)]},
    ]


def expected_search(query: dict, texts, match_texts, ts_ms) -> dict:
    """Digest of what `s` prints for `query` over events whose searchable
    text is `match_texts` (the stored message, timestamp excluded)."""
    rx = expect.wildcard_regex(expect.search_substring(query["query"]))
    hits = [i for i, m in enumerate(match_texts) if rx.fullmatch(m)]
    flags = query["flags"]
    if "--count" in flags:
        lines = [str(len(hits))]
    elif "--count-by-time" in flags:
        bucket = int(flags[flags.index("--count-by-time") + 1])
        lines = expect.count_by_time([ts_ms[i] for i in hits], bucket)
    else:
        lines = expect.message_lines(texts[i] for i in hits)
    return {**expect.lines_digest(lines), "hits": len(hits)}


def write_text_corpus(seed: int, out_dir: str) -> dict:
    templates, events = text_events(seed)
    inputs = os.path.join(out_dir, "input")
    warm = os.path.join(out_dir, "warm")
    os.makedirs(inputs)
    os.makedirs(warm)
    files = [os.path.join(inputs, f"app-{k}.log") for k in range(TEXT_FILES)]
    per_file: list[list[str]] = [[] for _ in files]
    for ev in events:
        per_file[ev["file"]].append(ev["text"])
    for path, texts in zip(files, per_file):
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            f.write("".join(t + "\n" for t in texts))
    for k in range(2):
        with open(os.path.join(warm, f"warm-{k}.log"), "w", encoding="utf-8") as f:
            f.write("".join(t + "\n" for t in per_file[k][:TEXT_WARM_EVENTS]))
    texts = [e["text"] for e in events]
    bodies = [e["body"] for e in events]
    ts_ms = [e["ts_ms"] for e in events]
    queries = text_queries(seed, templates, events)
    for q in queries:
        q["expect"] = expected_search(q, texts, bodies, ts_ms)
    return {
        "workload": "text_archive",
        "seed": seed,
        "inputs": files,
        "warm_inputs": sorted(os.path.join(warm, n) for n in os.listdir(warm)),
        "warm_query": queries[1]["query"],
        "records": len(events),
        "lines": sum(t.count("\n") + 1 for t in texts),
        "raw_bytes": sum(os.path.getsize(p) for p in files),
        "templates": TEXT_TEMPLATES,
        "queries": queries,
    }


# ---------------------------------------------------------------- seq_pipeline


def seq_queries(vocab: list[str], sample: list[str]) -> list[dict]:
    """The `s` mix over the routed pipeline sinks. Tokens are vocabulary
    pieces picked at fixed frequency ranks of `sample` (pool messages, so
    every seed gets the same mix)."""

    def by_frequency(tokens) -> list[str]:
        return sorted(set(tokens), key=lambda t: (-sum(t in m for m in sample), t))

    pieces = [v.strip() for v in vocab]
    ints = by_frequency(t for t in pieces if t.isdigit() and len(t) >= 6)
    floats = by_frequency(t for t in pieces if re.fullmatch(r"\d+\.\d{3,}", t))
    hexes = by_frequency(t for t in pieces if re.fullmatch(r"[0-9a-f]{6,}", t)
                         and not t.isdigit() and not t.isalpha())
    words = by_frequency(v for v in vocab if v.isalpha() and v.islower() and len(v) >= 4)
    int_tok = ints[10]
    mid = len(int_tok) // 2
    # '<w1>*<w2>': w2 is the most frequent word after w1 in w1's first message
    first = next(m for m in sample if words[20] in m)
    tail = first[first.index(words[20]) + len(words[20]):]
    follow = next(w for w in words if w != words[20] and w in tail)
    return [
        {"name": "nohit", "query": NOHIT, "flags": []},
        {"name": "int", "query": int_tok, "flags": []},
        {"name": "float", "query": floats[10], "flags": []},
        {"name": "hex", "query": hexes[10], "flags": []},
        {"name": "dictvar", "query": "container_e19_1512", "flags": []},
        {"name": "const", "query": words[60], "flags": []},
        {"name": "int_qmark", "query": int_tok[:mid] + "?" + int_tok[mid + 1:], "flags": []},
        {"name": "mid_star", "query": f"{words[20]}*{follow}", "flags": []},
        {"name": "count", "query": words[10], "flags": ["--count"]},
    ]


def write_seq_corpus(seed: int, out_dir: str) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clp_spark.sources.synth import build_vocab, generate_sequences

    vocab_df = build_vocab()
    vocab = vocab_df["text"].tolist()
    pool = generate_sequences(SEQ_ROWS, SEQ_POOL_SEED)
    pick = np.random.default_rng(seed).integers(0, len(pool), size=SEQ_ROWS)
    df = pool.iloc[pick].reset_index(drop=True)
    df["doc_id"] = [f"doc-{i:010d}" for i in range(len(df))]
    seq_dir = os.path.join(out_dir, "sequences")
    warm_dir = os.path.join(out_dir, "warm")
    os.makedirs(seq_dir)
    os.makedirs(warm_dir)
    per = (len(df) + SEQ_PARTS - 1) // SEQ_PARTS
    for i in range(SEQ_PARTS):
        part = pa.Table.from_pandas(df.iloc[i * per:(i + 1) * per], preserve_index=False)
        pq.write_table(part, os.path.join(seq_dir, f"part-{i:04d}.parquet"),
                       row_group_size=10_000)
    pq.write_table(pa.Table.from_pandas(df.iloc[:SEQ_WARM_ROWS], preserve_index=False),
                   os.path.join(warm_dir, "part-0000.parquet"))
    vocab_path = os.path.join(out_dir, "vocab.parquet")
    pq.write_table(pa.Table.from_pandas(vocab_df, preserve_index=False), vocab_path)
    # the detokenizer is a join of vocab pieces: message = ''.join(pieces)
    messages = ["".join(vocab[t] for t in toks) for toks in df["tokens"]]
    doc_ids = df["doc_id"].tolist()
    queries = seq_queries(
        vocab, ["".join(vocab[t] for t in toks) for toks in pool["tokens"][:4_000]])
    for q in queries:
        q["expect"] = expected_search(q, messages, messages, None)
    return {
        "workload": "seq_pipeline",
        "seed": seed,
        "sequences": seq_dir,
        "warm_sequences": warm_dir,
        "vocab": vocab_path,
        "records": len(df),
        "raw_bytes": sum(len(m.encode("utf-8")) for m in messages),
        "decode": {"rows": len(df), "crc_sum": expect.crc_sum(doc_ids, messages)},
        "warm_query": queries[1]["query"],
        "queries": queries,
    }


WRITERS = {"seq_pipeline": write_seq_corpus, "text_archive": write_text_corpus}


def main(argv: list[str]) -> None:
    workload, seed, out_dir = argv[0], int(argv[1]), argv[2]
    truth = WRITERS[workload](seed, out_dir)
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)


if __name__ == "__main__":
    main(sys.argv[1:])
