"""Custom stateful streaming operator: cross-batch first-wins dedup.

The reference has no record streaming (SURVEY §2.6); this is the
Spark-native capability its always-on ingest API gestures at: a stream of
records where a doc_id must be emitted exactly once across ALL micro-
batches, not just within one.  Built on ``applyInPandasWithState`` —
per-group state (the set digest of seen ids) lives in the state store,
checkpointed with the query, so a restart resumes without re-emitting.

Scale shape: state is keyed by a BUCKET of the id space (``pmod(hash(id),
N_BUCKETS)``), not by the id itself — state-store entries stay bounded and
each group's state is one compact set; the stream shuffles once on the
bucket key.

Two state representations:

* :func:`dedup_stream` — exact id set per bucket (exactly-once emission);
  state grows O(ids/bucket) — right up to ~10^7 ids per bucket.
* :func:`dedup_stream_bloom` — FIXED-SIZE Bloom bitset per bucket
  (at-most-once emission): state is ``BLOOM_BITS/8`` bytes forever, at
  the cost of a false-positive rate ~(1 - e^(-k·n/m))^k under which a
  genuinely new id is (rarely) suppressed.  This is the 10^12-id shape:
  total state = N_BUCKETS x BLOOM_BITS/8, independent of stream length.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = "doc_id string, route string"
STATE_SCHEMA = "seen array<string>"
N_BUCKETS = 64


def _dedup_group(
    key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    seen = set(state.get[0]) if state.exists else set()
    out_ids, out_routes = [], []
    for pdf in pdfs:
        for doc_id, route in zip(pdf["doc_id"], pdf["route"]):
            if doc_id not in seen:
                seen.add(doc_id)
                out_ids.append(doc_id)
                out_routes.append(route)
    state.update((sorted(seen),))
    yield pd.DataFrame({"doc_id": out_ids, "route": out_routes})


def _bucketed(routed: DataFrame) -> DataFrame:
    return routed.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS)))


def dedup_stream(routed: DataFrame) -> DataFrame:
    """Exactly-once doc_id emission across micro-batches (first wins)."""
    bucketed = _bucketed(routed)
    return (
        bucketed.groupBy("bucket")
        .applyInPandasWithState(
            _dedup_group, OUT_SCHEMA, STATE_SCHEMA,
            "append", GroupStateTimeout.NoTimeout,
        )
    )


BLOOM_BITS = 1 << 20   # 128 KiB of state per bucket, forever
BLOOM_K = 5            # ~0.1%% fp at n/m ~ 0.15


def _bloom_positions(doc_id: str) -> list[int]:
    """BLOOM_K deterministic bit positions via double hashing (md5
    halves) — stable across Python processes (no PYTHONHASHSEED
    dependence)."""
    import hashlib

    h = hashlib.md5(doc_id.encode("utf-8")).digest()
    a = int.from_bytes(h[:8], "big")
    b = int.from_bytes(h[8:], "big") | 1
    return [(a + i * b) % BLOOM_BITS for i in range(BLOOM_K)]


def dedup_stream_bloom(routed: DataFrame) -> DataFrame:
    """At-most-once doc_id emission with FIXED-SIZE per-bucket state.

    The Bloom bitset never grows: a restart re-reads ``BLOOM_BITS/8``
    bytes per bucket from the checkpoint regardless of how many ids have
    streamed through.  Trade-off (documented contract): a new id colliding
    on all BLOOM_K bits of prior ids is silently suppressed — acceptable
    for training-data dedup (a dropped near-miss costs one document, a
    duplicate costs training quality); use :func:`dedup_stream` when
    exactness beats state size.
    """

    def fn(key, pdfs, state: GroupState):
        buf = (bytearray(state.get[0]) if state.exists
               else bytearray(BLOOM_BITS // 8))
        out_ids, out_routes = [], []
        for pdf in pdfs:
            for doc_id, route in zip(pdf["doc_id"], pdf["route"]):
                pos = _bloom_positions(doc_id)
                if all(buf[p >> 3] & (1 << (p & 7)) for p in pos):
                    continue  # (probably) already seen
                for p in pos:
                    buf[p >> 3] |= 1 << (p & 7)
                out_ids.append(doc_id)
                out_routes.append(route)
        state.update((bytes(buf),))
        yield pd.DataFrame({"doc_id": out_ids, "route": out_routes})

    return (
        _bucketed(routed).groupBy("bucket")
        .applyInPandasWithState(
            fn, OUT_SCHEMA, "bloom binary",
            "append", GroupStateTimeout.NoTimeout,
        )
    )
