"""Custom stateful streaming operator: ONLINE near-duplicate flagging.

A document stream is MinHash-banded (same family as operators/dedup.py);
per band key, ``applyInPandasWithState`` keeps the first document id ever
seen as state, and every later document colliding on that band key is
emitted as a near-duplicate candidate (doc_id, first_id). This is the
streaming analogue of the batch banded join — instead of joining a static
corpus against itself, state IS the corpus seen so far, bounded by the
number of distinct band keys.

Scale notes: state is partitioned by band key (a plain stream shuffle);
at 10^12-file scale you bound state with a TTL (state expiry = "dedup
window"): pass ``ttl_ms`` to run under ProcessingTimeTimeout — idle band
keys are REMOVED via the hasTimedOut callback (the state-size bound),
and a key whose last sighting is older than the TTL re-admits its next
document as a fresh first (stale state never flags). Default ttl_ms=None
keeps NoTimeout for deterministic tests/oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from kiez_spark.operators.dedup import minhash_signatures

_OUT_SCHEMA = "band_key bigint, doc_id bigint, first_id bigint"
_STATE_SCHEMA = "first_id bigint, last_seen_ms bigint"


def banded_keys(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n_hashes: int = 16, bands: int = 4, shingle_n: int = 3, seed: int = 42,
) -> DataFrame:
    """(doc_id, band_key) — one row per (doc, band), keys hashed from the
    band's minhash-value tuple plus the band index. The signature is the
    batch operator's (dedup.minhash_signatures, an Arrow kernel that also
    runs on a stream), so documents collide exactly where the batch
    minhash_lsh_pairs banding collides them."""
    rows_per_band = n_hashes // bands
    sig = F.col("sig")
    band_keys = [
        F.xxhash64(
            F.concat_ws(
                "_",
                *[sig[b * rows_per_band + r].cast("string")
                  for r in range(rows_per_band)],
            ),
            F.lit(b),  # band index in the key: bands never cross-match
        )
        for b in range(bands)
    ]
    return minhash_signatures(
        df, id_col, text_col, n_hashes, shingle_n, seed
    ).select("doc_id", F.explode(F.array(*band_keys)).alias("band_key"))


def online_neardup_flags(
    stream_df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n_hashes: int = 16, bands: int = 4, shingle_n: int = 3, seed: int = 42,
    ttl_ms: int | None = None, emit_expiry: bool = False,
) -> DataFrame:
    """Streaming (doc_id, first_id) collision flags, deduplicated across
    bands downstream by the caller if desired.

    ``ttl_ms`` bounds state size (the 10^12-file requirement): under
    ProcessingTimeTimeout, a band key idle for > ttl_ms is removed by the
    timeout callback on the next trigger, and state older than ttl_ms is
    treated as absent even when data arrives before the callback fires
    (Spark delivers data-and-state to the same invocation, so expiry must
    be checked against the stored last-seen clock, not only hasTimedOut).
    ``emit_expiry`` additionally emits one (band_key, -1, old_first)
    tombstone per expired key — an expiry audit stream, and the testable
    witness that the removal path executed. NOTE: a TTL'd query must run
    under a processing-time trigger with an explicit stop;
    Trigger.AvailableNow never terminates while processing-time timeouts
    are registered (it keeps scheduling batches to fire them).
    """
    banded = banded_keys(
        stream_df, id_col, text_col, n_hashes, bands, shingle_n, seed
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )

    def flag(key, pdfs, state):
        import pandas as pd  # noqa: PLC0415

        if state.hasTimedOut:
            # idle-key expiry: drop the state row entirely (the bound).
            # The (empty) input iterator must still be drained — leaving
            # it unconsumed breaks the Arrow stream framing and crashes
            # the python worker.
            for _ in pdfs:
                pass
            old_first = state.get[0] if state.exists else None
            state.remove()
            if emit_expiry and old_first is not None:
                yield pd.DataFrame(
                    {"band_key": key[0], "doc_id": [-1],
                     "first_id": [old_first]}
                )
            return
        now = state.getCurrentProcessingTimeMs() if ttl_ms is not None else 0
        first = None
        if state.exists:
            first, last_seen = state.get
            if ttl_ms is not None and now - last_seen > ttl_ms:
                first = None  # stale state: re-admit as a fresh first
        # vectorized form of the per-row admit loop: within one
        # invocation `first` can only ever become the smallest id (ids
        # are processed in sorted order and first never changes once
        # set), so: no prior state -> min(ids) is admitted and the rest
        # flag; prior state -> every id != first flags.
        import numpy as np  # noqa: PLC0415

        chunks = [pdf["doc_id"].to_numpy() for pdf in pdfs if len(pdf)]
        ids = (
            np.sort(np.concatenate(chunks))
            if chunks
            else np.empty(0, dtype=np.int64)
        )
        if first is None and len(ids):
            first = int(ids[0])
        flagged = ids[ids != first] if first is not None else ids[:0]
        out_docs = [int(x) for x in flagged]
        out_first = [first] * len(out_docs)
        state.update((first, now))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if out_docs:
            yield pd.DataFrame(
                {
                    "band_key": key[0],
                    "doc_id": out_docs,
                    "first_id": out_first,
                }
            )

    return banded.groupBy("band_key").applyInPandasWithState(
        flag, _OUT_SCHEMA, _STATE_SCHEMA, "append", timeout,
    )
