"""Custom stateful streaming — ``applyInPandasWithState`` operators
(SURVEY §2.8's stateful-streaming row; the reference's only state is the
reorg-detection resync loop, etl.rs:147-169, which the tail handles via
``foreachBatch``).

Two canonical shapes a training-data/chain pipeline needs beyond built-in
aggregations:

- **running per-key counters** — per-source ingest monitors (events/sec per
  source, total rows per token) that survive across micro-batches;
- **stateful first-seen dedup** — emit a row the first time a key appears,
  drop repeats: streaming exact-dedup for document/record streams.

State eviction: pass ``timeout_ms`` to expire idle keys by processing-time
timeout on a live stream. The default is **no timeout** — timers fire on
every subsequent trigger, so a timeout-bearing query never self-terminates
under ``Trigger.AvailableNow`` batch replay (it keeps scheduling
timeout-handling batches); bounded replays and tests must run without one.
Both operators run identically under ``availableNow`` and a live stream.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _timeout_conf(timeout_ms: int | None) -> str:
    return (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms
        else GroupStateTimeout.NoTimeout
    )


def running_counts(
    stream: DataFrame,
    key_col: str = "source",
    timeout_ms: int | None = None,
) -> DataFrame:
    """Per-key running event counts across micro-batches. Emits one row per
    key per batch with the updated lifetime total. With ``timeout_ms`` set
    (live streams only — see module docstring), idle keys expire and free
    their state."""

    def update(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if timeout_ms and state.hasTimedOut:
            state.remove()
            return
        n_new = sum(len(b) for b in batches)
        (total,) = state.get if state.exists else (0,)
        total += n_new
        state.update((total,))
        if timeout_ms:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame({"key": [key[0]], "n_batch": [n_new], "n_total": [total]})

    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType="key string, n_batch long, n_total long",
            stateStructType="total long",
            outputMode="update",
            timeoutConf=_timeout_conf(timeout_ms),
        )
    )


def first_seen(
    stream: DataFrame,
    key_col: str = "fp",
    timeout_ms: int | None = None,
) -> DataFrame:
    """Stateful streaming dedup: emit each key's first occurrence, drop
    repeats. With ``timeout_ms``, the per-key marker expires after that much
    idle processing time — the dedup horizon; a key recurring later is
    emitted again (the deliberate memory/recall trade every streaming dedup
    makes).

    ``n_dropped_dups`` counts duplicates WITHIN the key's first-arrival
    micro-batch only: append mode emits each key once and cannot update
    the row, so repeats arriving in LATER batches are dropped without
    being counted anywhere (r15 review) — a dup-pressure monitor needs
    ``running_counts`` (update mode) instead."""

    def update(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if timeout_ms and state.hasTimedOut:
            state.remove()
            return
        n = sum(len(b) for b in batches)
        if n == 0:
            return
        if not state.exists:
            state.update((1,))
            if timeout_ms:
                state.setTimeoutDuration(timeout_ms)
            yield pd.DataFrame({"key": [key[0]], "n_dropped_dups": [n - 1]})
        elif timeout_ms:
            state.setTimeoutDuration(timeout_ms)

    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType="key string, n_dropped_dups long",
            stateStructType="seen long",
            outputMode="append",
            timeoutConf=_timeout_conf(timeout_ms),
        )
    )


def dedup_within_watermark(
    stream: DataFrame,
    keys: tuple[str, ...] = ("fp",),
    ts_col: str = "ts",
    delay: str = "1 minute",
) -> DataFrame:
    """Streaming exact-dedup with *bounded* state — the built-in
    counterpart to :func:`first_seen`: ``dropDuplicatesWithinWatermark``
    keeps one state row per key only until the watermark passes the key's
    event time, then evicts it. That bound is what lets an ingest dedup
    run forever on a continuous crawl: plain ``dropDuplicates`` pins every
    key it has ever seen (state grows with the corpus), while the
    watermark variant holds state proportional to keys-per-delay-window.
    The trade is the same horizon every streaming dedup accepts: a key
    recurring later than ``delay`` is emitted again (cross-horizon dedup
    belongs to the batch compaction pass, operators/dedup.py).

    On a batch DataFrame this degrades to plain ``dropDuplicates`` over
    the keys (the batch oracle shape)."""
    if not stream.isStreaming:
        return stream.dropDuplicates(list(keys))
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        list(keys)
    )
