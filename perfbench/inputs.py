"""Seeded input generation for the benchmark workloads.

Every table is a pure function of the seed and its size. Transcript
payloads come from ``htep_spark.sources.io.make_turn_text`` over a
turn-number range shifted by the seed; the conversation layout (how many
turns each conversation holds) and the documents corpus are drawn from
``random.Random`` seeded with it. The program under test only ever sees the parquet
files written here.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from typing import Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

ROLES = ("user", "assistant", "tool", "system")
BASE_TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

TRANSCRIPT_ARROW_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def conversation_layout(rng: random.Random, n_turns: int, mega_share: float,
                        pareto_alpha: float) -> List[int]:
    """Turns per conversation: conversation 0 holds ``mega_share`` of all
    turns, the rest follow a Pareto tail (smaller ``pareto_alpha`` means
    heavier skew) capped at a tenth of the corpus."""
    counts = [int(n_turns * mega_share)]
    left = n_turns - counts[0]
    cap = max(2, n_turns // 10)
    while left > 0:
        take = min(left, cap, max(1, int(4 * rng.paretovariate(pareto_alpha))))
        counts.append(take)
        left -= take
    rng.shuffle(counts)
    return counts


def transcript_rows(seed: int, part: int, n_turns: int, mega_share: float,
                    pareto_alpha: float) -> Dict[str, list]:
    """Column dict of part ``part`` of a transcript corpus: ``n_turns``
    turns that no other part of the same seed repeats, conversations in
    layout order."""
    from htep_spark.sources.io import make_turn_text

    rng = random.Random(seed * 1_000 + part)
    cols: Dict[str, list] = {f.name: [] for f in TRANSCRIPT_ARROW_SCHEMA}
    gidx = 1_000_000 + seed * 10_007 + part * n_turns
    for conv_no, count in enumerate(
        conversation_layout(rng, n_turns, mega_share, pareto_alpha)
    ):
        conv_id = f"s{seed}-p{part}-c{conv_no:05d}"
        for turn_idx in range(count):
            text, tool = make_turn_text(gidx)
            role = ROLES[gidx % len(ROLES)]
            cols["conv_id"].append(conv_id)
            cols["turn_idx"].append(turn_idx)
            cols["role"].append(role)
            cols["text"].append(text)
            cols["tool"].append(tool if role == "tool" else "")
            cols["ts"].append(
                BASE_TS + dt.timedelta(hours=conv_no, seconds=30 * turn_idx)
            )
            gidx += 1
    return cols


def write_parts(cols: Dict[str, list], out_dir: str, n_files: int,
                schema: pa.Schema) -> None:
    """Write ``cols`` as ``n_files`` parquet files of contiguous rows."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(cols, schema=schema)
    n = table.num_rows
    for k in range(n_files):
        lo, hi = n * k // n_files, n * (k + 1) // n_files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out_dir, f"part-{k:05d}.parquet"))


# Token vocabulary of the documents corpus (the shape of the repository's
# scale-factor test data: short texts over a small technical vocabulary).
VOCAB = (
    "spark window merge table column stream query filter scan sort hash "
    "group agg value key row part batch line data order vector join plan "
    "index cache shard page block node edge"
).split()
LANGS = ("en", "en", "de", "fr", "es", "zh")


def document_rows(seed: int, n_docs: int, n_sources: int,
                  dup_share: float) -> Dict[str, list]:
    """Documents table ``(doc_id, text, lang, source, n_chars)``.

    A ``dup_share`` of the documents re-use an earlier document's tokens with
    different case and punctuation: identical token shingles (MinHash
    Jaccard exactly 1, so every base hash finds the pair) but different
    characters for the winnowing fingerprints.
    """
    rng = random.Random(seed * 7 + 3)
    cols: Dict[str, list] = {k: [] for k in ("doc_id", "text", "lang", "source", "n_chars")}
    token_lists: List[List[str]] = []
    for doc_id in range(n_docs):
        if token_lists and rng.random() < dup_share:
            tokens = token_lists[rng.randrange(len(token_lists))]
            text = " ".join(
                (t.upper() if rng.random() < 0.3 else t) + ("," if rng.random() < 0.2 else "")
                for t in tokens
            )
        else:
            tokens = [rng.choice(VOCAB) for _ in range(rng.randint(20, 80))]
            text = " ".join(tokens)
        token_lists.append(tokens)
        cols["doc_id"].append(doc_id)
        cols["text"].append(text)
        cols["lang"].append(rng.choice(LANGS))
        cols["source"].append(f"src{rng.randrange(n_sources)}")
        cols["n_chars"].append(len(text))
    return cols


DOCUMENT_ARROW_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.int64()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
        pa.field("source", pa.string()),
        pa.field("n_chars", pa.int64()),
    ]
)
