"""Mention extraction stage: transcripts → mentions.

Spark plan (r6), shared by every per-turn text kernel through
:func:`text_kernel_df`::

    transcripts
      .coalesce(N)                      # num_partitions given: parallelism
                                        # cap WITHOUT shuffling the raw text
                                        # (stateless per-turn UDF needs no
                                        # co-location)
      | .hint("rebalance", "conv_id")   # default batch path: the AQE
                                        # rebalance for arbitrary, possibly
                                        # skewed inputs
      | .repartition(n, "conv_id")      # streaming input or AQE off, both
                                        # of which drop the hint
      .mapInPandas                      # Arrow-batched; factorized to
                                        # distinct texts per batch: AC scan +
                                        # section parse + context rules once
                                        # per distinct text, vectorized
                                        # replication back to turn rows
      → mentions (one row per mention, provenance (conv_id, turn_idx))

The dictionary travels as a Spark broadcast (list of AC entries); each
executor Python worker builds the automaton once and caches it for the
life of the process — the distributed analogue of the reference's
process-singleton vocabulary (backend/app/services/vocabulary.py:346-370).

The input ``text`` column is never mutated: mentions carry offsets into
the original text, and the per-turn text-equality invariant is asserted
by :func:`kgnorm.metrics.mention_span_check`.
"""

from __future__ import annotations

from functools import partial
from typing import Any, Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame

from kgnorm import ac, rules, schemas

# Worker-process automaton cache, keyed by identity of the (deserialized,
# broadcast-manager-owned) entry list: one build per executor worker.
_AUTOMATON_CACHE: dict[int, Any] = {}

_MENTION_COLS = [f.name for f in schemas.MENTIONS.fields]

# Per-worker memo bound of :func:`text_kernel_df`, in distinct texts.
MEMO_CAP = 50_000


def transpose_rows(rows: list[tuple], n_cols: int) -> tuple[int, tuple]:
    """Row-tuples → (row_count, tuple of per-column lists) — the memo
    block format :func:`factorized_batch_assemble` replicates."""
    if not rows:
        return 0, tuple([] for _ in range(n_cols))
    return len(rows), tuple(list(c) for c in zip(*rows))


def factorized_batch_assemble(batch, all_cols: list[str], block_for) -> pd.DataFrame:
    """Shared r6 batch assembly for per-turn text kernels (guide §4.2).

    Factorizes ``batch['text']`` to its distinct texts, calls
    ``block_for(text) -> (k, tuple of per-column lists)`` once per
    DISTINCT text (callers memoize inside ``block_for``), and replicates
    each block across that text's turn rows — C-level ``list * n`` for
    the payload columns plus ``np.repeat`` for the provenance columns,
    no per-row Python loop.  Output rows are grouped by distinct text;
    each turn's rows keep the block's order.  ``all_cols`` must start
    with the two provenance columns ``conv_id, turn_idx``; None texts
    are skipped.
    """
    codes, uniques = pd.factorize(batch["text"], use_na_sentinel=True)
    blocks = [block_for(t) for t in uniques]
    out: dict[str, Any] = {}
    if blocks:
        valid = codes >= 0
        rcodes = codes[valid]
        order = np.argsort(rcodes, kind="stable")
        lengths = np.fromiter((b[0] for b in blocks), dtype=np.int64,
                              count=len(blocks))
        per_unique_rows = np.bincount(rcodes, minlength=len(blocks))
        counts = lengths[rcodes[order]]
        out[all_cols[0]] = np.repeat(batch["conv_id"].to_numpy()[valid][order], counts)
        out[all_cols[1]] = np.repeat(batch["turn_idx"].to_numpy()[valid][order], counts)
        cols: list[list] = [[] for _ in all_cols[2:]]
        for u, (k, block) in enumerate(blocks):
            n_rows = int(per_unique_rows[u])
            if n_rows == 0 or k == 0:
                continue
            for j, vals in enumerate(block):
                cols[j].extend(vals * n_rows if n_rows > 1 else vals)
        for j, name in enumerate(all_cols[2:]):
            out[name] = cols[j]
    else:
        out[all_cols[0]] = np.empty(0, dtype=object)
        out[all_cols[1]] = np.empty(0, dtype=np.int64)
        for name in all_cols[2:]:
            out[name] = np.empty(0, dtype=object)
    return pd.DataFrame(out, columns=all_cols)


def text_kernel_df(
    transcripts: DataFrame,
    cols: list[str],
    schema,
    make_block: Callable[[], Callable[[str], tuple[int, tuple]]],
    num_partitions: int | None = None,
) -> DataFrame:
    """The one Arrow-batched stage behind every per-turn text kernel.

    ``make_block()`` runs on the worker when a task's first batch
    arrives (read broadcasts, build automata there) and returns
    ``block(text) -> (k, per-column lists)``, a pure function of the
    text.  ``cols``/``schema`` describe the output rows, provenance
    ``conv_id, turn_idx`` first.  ``num_partitions`` caps parallelism
    with ``coalesce``; the default path is ``REBALANCE(conv_id)``, or
    ``repartition(shuffle.partitions, "conv_id")`` when the hint would
    be dropped (AQE off, streaming input).
    """
    spark = transcripts.sparkSession
    # read on the driver, so the closure carries it to the workers
    memo_cap = MEMO_CAP

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        block = None
        # per-worker memo of text → block.
        # Agent-transcript corpora repeat turn texts heavily (tool
        # banners, boilerplate, canned replies); every kernel is a pure
        # function of the text, so each distinct string is processed
        # once per worker.  Bounded to keep the worker's footprint flat
        # on high-cardinality corpora.
        memo: dict[str, tuple[int, tuple]] = {}

        def block_for(text):
            entry = memo.get(text)
            if entry is None:
                entry = block(text)
                if len(memo) >= memo_cap:
                    memo.clear()
                memo[text] = entry
            return entry

        for batch in batches:
            if block is None:
                block = make_block()
            yield factorized_batch_assemble(batch, cols, block_for)

    sel = transcripts.select("conv_id", "turn_idx", "text")
    if num_partitions:
        # explicit cap (bench scaling legs, job --partitions).
        # r6 (guide §2.4): coalesce instead of a hash repartition — the
        # cap semantics (≤ num_partitions concurrent tasks) hold without
        # shuffling the text payload, which was the single largest
        # exchange of the whole pipeline (~190 B/turn of raw text moved
        # only to be consumed by a stateless per-turn UDF one stage
        # later).  Synthetic/range inputs are evenly sized, so merging
        # adjacent partitions stays balanced; conversations remain
        # contiguous, so downstream map-side partial aggregation
        # collapses exactly as before.  Inputs with FEWER partitions
        # than the cap keep their own (coalesce never raises the count).
        partitioned = sel.coalesce(num_partitions)
    elif sel.isStreaming or spark.conf.get("spark.sql.adaptive.enabled").lower() != "true":
        # the REBALANCE hint is dropped without AQE (streaming queries
        # always run without it): an explicit repartition keeps the balance
        n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        partitioned = sel.repartition(n, "conv_id")
    else:
        # default batch path: REBALANCE(conv_id) keeps conversations
        # co-located (map-side combine stays total downstream) but,
        # unlike a strict repartition, licenses AQE to SPLIT a
        # pathologically hot conversation across tasks
        # (optimizeSkewsInRebalancePartitions) — harmless here because
        # every kernel is stateless per turn and the facts groupBy
        # re-shuffles on the full fact key anyway
        partitioned = sel.hint("rebalance", "conv_id")
    return partitioned.mapInPandas(batch_fn, schema=schema)


def _mention_lists(text: str, auto) -> tuple[int, tuple]:
    """Extract ``text`` once and freeze the result as one plain list per
    mention column (the memo value): replication across duplicate turns
    then happens with C-level ``list * n`` instead of a per-row Python
    append loop (guide §4.2).  Lists, not numpy arrays — building an
    object array per distinct text measurably penalizes the
    all-texts-distinct worst case, where every text is a memo miss."""
    ms = rules.extract_mentions(text, auto)
    return len(ms), (
        [m.text for m in ms],
        [m.start_offset for m in ms],
        [m.end_offset for m in ms],
        [m.lexical_variant for m in ms],
        [m.section for m in ms],
        [m.assertion for m in ms],
        [m.temporality for m in ms],
        [m.experiencer for m in ms],
        [m.confidence for m in ms],
        [m.domain_hint for m in ms],
        [m.omop_concept_id for m in ms],
    )


def _automaton_for(entries: list) -> Any:
    key = id(entries)
    auto = _AUTOMATON_CACHE.get(key)
    if auto is None:
        auto = ac.build_automaton(entries)
        _AUTOMATON_CACHE.clear()  # at most one dictionary per worker
        _AUTOMATON_CACHE[key] = auto
    return auto


def extract_mentions_df(
    transcripts: DataFrame,
    dictionary: Broadcast,
    num_partitions: int | None = None,
) -> DataFrame:
    """Run the extraction UDF over a transcripts DataFrame.

    Args:
        transcripts: DataFrame with the TRANSCRIPTS schema.
        dictionary: broadcast list of AC entries from
            :func:`kgnorm.ontology.broadcast_dictionary`.
        num_partitions: explicit CAP on the extraction stage's
            parallelism (see :func:`text_kernel_df`).
    """
    def make_block():
        return partial(_mention_lists, auto=_automaton_for(dictionary.value))

    return text_kernel_df(transcripts, _MENTION_COLS, schemas.MENTIONS,
                          make_block, num_partitions)
