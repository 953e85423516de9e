"""Custom stateful streaming operators via applyInPandasWithState.

The reference has no arbitrary-state operators (SURVEY.md §2.10); this is
the engine-completeness extension for semantics the built-in windowed
aggregates can't express. The demo operator is **streaming keep-first
dedup**: per key group, emit only rows whose (dedup sub-key) was never seen
in any earlier micro-batch; seen-keys live in GroupState.

Scale notes: state is per group-key partition (hash shuffle on the key);
the seen-set must stay bounded — production variants hold a sketch (Bloom
filter) or TTL the state via timeouts rather than an exact set. Rows within
a micro-batch are sorted by the caller-supplied order columns so emission
is deterministic regardless of scan order.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def streaming_keep_first(
    stream: DataFrame,
    key_col: str,
    dedup_col: str,
    order_cols: list[str],
    output_schema: str,
    output_cols: list[str],
) -> DataFrame:
    """Emit the first row (by ``order_cols``) per (key, dedup value) across
    the whole stream; later occurrences in the same or later micro-batches
    are dropped via GroupState."""

    def dedup_group(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        seen: set = set(state.get[0]) if state.exists else set()
        # concat all Arrow chunks before sorting — chunk boundaries are not
        # deterministic, the (order_cols) sort must span the whole batch
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(order_cols)
        fresh = pdf[~pdf[dedup_col].isin(seen)].drop_duplicates(
            subset=[dedup_col], keep="first"
        )
        state.update((list(seen | set(fresh[dedup_col])),))
        if len(fresh):
            yield fresh[output_cols]

    return stream.groupBy(key_col).applyInPandasWithState(
        dedup_group,
        outputStructType=output_schema,
        stateStructType="seen array<string>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_sessionize_timeout(
    stream: DataFrame, key_col: str, us_col: str, gap_us: int
) -> DataFrame:
    """Per-key sessionization with **event-time timers** (the state-eviction
    facility `streaming_keep_first` doesn't exercise): events whose gap
    exceeds ``gap_us`` start a new session; a completed session is emitted
    once the watermark passes session_end + gap — either observed while
    processing a later batch for the key, or via the timer firing with an
    empty input iterator for an idle key, after which its state is
    removed. This is THE unbounded-keyspace pattern at 100 TB: without
    the timer, every key that ever appeared holds RocksDB state forever.

    Timestamps are carried as epoch **microseconds** (``us_col``, int64) so
    the Python worker never touches tz-sensitive datetime objects; the
    caller must still provide a watermarked proper-TIMESTAMP column for the
    engine's timer clock. Spark's watermark/timer clock is **millisecond**-
    floored, so the timer registers at ``(end_us + gap_us) // 1000`` and
    fires strictly after the watermark passes it — the DuckDB oracle
    replays exactly this flooring (see plans/streaming.py).

    Output is batching-independent under an availableNow drain because the
    emission rule is watermark-pure: a session row is emitted exactly when
    the (ms-floored) watermark strictly passes its close instant
    ``(end + gap) // 1000`` — never earlier. Eagerly flushing a segment
    just because a later segment arrived (the previous design) is unsound
    whenever the caller's watermark delay is nonzero: a late-but-valid
    event in a later batch can still bridge into the already-emitted
    segment. So state holds EVERY still-reachable segment (sorted,
    gap-coalesced intervals), not just the newest: late events
    interval-merge into whichever segment they extend. The retained
    segment count is bounded by ``(watermark_delay + gap) / gap + 1``
    per key — segments whose close instant the watermark has passed are
    flushed and dropped, so state stays O(1) per key for any fixed delay.
    """

    def sessionize(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        def emit(rows: list[tuple[int, int, int]]) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    key_col: np.full(len(rows), key[0], dtype=np.int64),
                    "session_start_us": np.array([r[0] for r in rows], dtype=np.int64),
                    "session_end_us": np.array([r[1] for r in rows], dtype=np.int64),
                    "n_events": np.array([r[2] for r in rows], dtype=np.int64),
                }
            )

        def flush_and_store(segs: list[tuple[int, int, int]]):
            """Emit every segment whose close instant the watermark passed
            (the engine's own timer rule, ms-floored strict); retain the
            rest with a timer at the earliest retained close instant."""
            wm_ms = state.getCurrentWatermarkMs()
            done = [g for g in segs if (g[1] + gap_us) // 1000 < wm_ms]
            keep = [g for g in segs if (g[1] + gap_us) // 1000 >= wm_ms]
            if keep:
                state.update(
                    (
                        [g[0] for g in keep],
                        [g[1] for g in keep],
                        [g[2] for g in keep],
                    )
                )
                # min retained close instant is >= wm_ms, which
                # setTimeoutTimestamp allows (it rejects only < watermark)
                state.setTimeoutTimestamp(min((g[1] + gap_us) // 1000 for g in keep))
            elif state.exists:
                state.remove()
            if done:
                yield emit(done)

        def stored_segments() -> list[tuple[int, int, int]]:
            if not state.exists:
                return []
            ss, es, ns = state.get
            return [(int(s), int(e), int(n)) for s, e, n in zip(ss, es, ns)]

        if state.hasTimedOut:
            yield from flush_and_store(stored_segments())
            return
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        us = np.sort(
            np.concatenate([c[us_col].to_numpy(dtype=np.int64) for c in chunks])
        )
        # segment boundaries where the in-batch gap exceeds gap_us (strict >,
        # mirrored by the oracle's `diff > gap`)
        cuts = np.flatnonzero(np.diff(us) > gap_us) + 1
        bounds = np.concatenate(([0], cuts, [len(us)]))
        segs = [
            (int(us[a]), int(us[b - 1]), int(b - a))
            for a, b in zip(bounds[:-1], bounds[1:])
        ]
        # Interval-merge batch segments with ALL stored segments — NOT an
        # ordered append onto a single open session. Sorting by (start,
        # end) and coalescing on the gap rule reproduces global
        # sessionization for any arrival order of late-but-valid events.
        segs.extend(stored_segments())
        segs.sort(key=lambda t: (t[0], t[1]))
        merged: list[tuple[int, int, int]] = [segs[0]]
        for seg in segs[1:]:
            m = merged[-1]
            if seg[0] - m[1] <= gap_us:
                merged[-1] = (m[0], max(m[1], seg[1]), m[2] + seg[2])
            else:
                merged.append(seg)
        yield from flush_and_store(merged)

    return stream.groupBy(key_col).applyInPandasWithState(
        sessionize,
        outputStructType=(
            f"{key_col} bigint, session_start_us bigint, "
            "session_end_us bigint, n_events bigint"
        ),
        stateStructType="ss array<bigint>, es array<bigint>, ns array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
