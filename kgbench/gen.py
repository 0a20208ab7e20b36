"""Seeded transcripts for the kgbench workloads.

Every turn's text is one of the 10 note templates (``synth.note_templates``).
The seed decides which template each turn uses, how long each conversation
is (a long-tailed length distribution) and, for the append workload, the
order in which turns arrive.  The same seed always gives the same turns, so
the oracle (``oracle.py``) can rebuild the expected triples from the seed
alone.

``distinct=True`` appends a trigger-free marker sentence (" Ref C<n>.")
with a different ``n`` on every turn, so no two texts are equal and the
extraction memo never hits.  The marker holds no dictionary term and no
context trigger, so it leaves each template's extraction unchanged.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema([
    pa.field("conv_id", pa.string(), nullable=False),
    pa.field("turn_idx", pa.int32(), nullable=False),
    pa.field("role", pa.string()),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us", tz="UTC")),
])

MAX_CONV_TURNS = 64
N_FILES = 4          # files per parquet table; independent of the host
_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def marker(n: int) -> str:
    return f" Ref C{n}."


def make_turns(seed: int, n_turns: int, n_templates: int) -> list[tuple]:
    """``n_turns`` turns as ``(arrival, conv_id, turn_idx, template)``,
    sorted by arrival.

    Conversation lengths are Pareto-tailed (most are a few turns, a few run
    to ``MAX_CONV_TURNS``).  Each conversation starts at a random time and
    its turns arrive in order, so any prefix of the arrival order holds
    whole-or-partial conversations and every later slice carries new turns
    of old conversations as well as new conversations.
    """
    rng = random.Random(seed)
    turns = []
    conv = 0
    while len(turns) < n_turns:
        length = min(MAX_CONV_TURNS, int(2 * rng.paretovariate(1.2)))
        start = rng.random()
        gap = rng.uniform(0.001, 0.05)
        conv_id = f"C{conv:08d}"
        for t in range(length):
            if len(turns) == n_turns:
                break
            turns.append((start + t * gap, conv_id, t, rng.randrange(n_templates)))
        conv += 1
    turns.sort()
    return turns


def write_transcripts(path: str, turns: list[tuple], templates: list[str],
                      distinct: bool, first_row: int = 0) -> None:
    """Write ``turns`` as a transcripts parquet directory of ``N_FILES``
    files.  ``first_row`` numbers the markers (and timestamps) so that
    tables written from different slices of one turn list never share a
    text."""
    os.makedirs(path, exist_ok=True)
    cols = {name: [] for name in SCHEMA.names}
    for i, (_, conv_id, turn_idx, tpl) in enumerate(turns, start=first_row):
        text = templates[tpl] + (marker(i) if distinct else "")
        cols["conv_id"].append(conv_id)
        cols["turn_idx"].append(turn_idx)
        cols["role"].append("user" if turn_idx % 2 == 0 else "assistant")
        cols["text"].append(text)
        cols["tool"].append("")
        cols["ts"].append(_EPOCH + dt.timedelta(seconds=i))
    table = pa.table(cols, schema=SCHEMA)
    per_file = -(-table.num_rows // N_FILES)
    for f in range(N_FILES):
        part = table.slice(f * per_file, per_file)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{f:05d}.parquet"))


def conv_templates(turns: list[tuple]) -> dict[str, set[int]]:
    """conversation → the set of templates its turns use."""
    out: dict[str, set[int]] = {}
    for _, conv_id, _, tpl in turns:
        out.setdefault(conv_id, set()).add(tpl)
    return out
