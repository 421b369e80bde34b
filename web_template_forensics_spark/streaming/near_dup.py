"""Streaming near-duplicate detection: SimHash band-bucket dedup as a
custom stateful operator.

``simhash_pairs_stream`` turns the batch banded self-join
(operators/dedup.py hamming_band_pairs) into a Structured Streaming
pipeline: each arriving document is simhashed and exploded into the
SAME pigeonhole bands as the batch face (shared ``_explode_bands``),
then ``applyInPandasWithState`` keyed by (band_no, band_val) holds the
(id, hash) members ever seen in that bucket and emits, per new arrival,
the verified pairs (hamming <= radius) against ALL history plus
earlier arrivals of the same batch. Exactness model: the emitted pair
SET over any batch split of a corpus equals the batch operator's
output on the full corpus (pytest-pinned across splits; the driver
gate compares against the same DuckDB oracle as ``simhash_pairs``).

Scale notes (the 100 TB story):
- the only shuffle is groupBy(band_no, band_val) — ids + 64-bit hashes,
  never text; buckets never communicate — linear scale-out.
- state is O(corpus) across all buckets, which is INHERENT to
  unbounded-retention near-dup (a new document must be comparable
  against all history); per-bucket state is small because band keys
  spread uniformly (8-16 bits/band at the default radius). Pipelines
  wanting bounded state put a TTL on membership (state.remove on an
  event-time timeout) and accept bounded-window dedup semantics.
- a pair within the radius agrees on >= 1 band (pigeonhole), so it is
  emitted by each agreeing bucket: the stream's raw output carries
  cross-band duplicates with IDENTICAL rows. The gate face distincts
  them after the drain; a fully-streaming consumer chains
  dropDuplicatesWithinWatermark at scale.

Both operators pair each bucket through the one kernel
``_pair_arrivals``; the unbounded operator runs it with every member at
event time 0, so its TTL age check never fires.

Reference parity: no streaming surface exists in the reference (a
single-process Flask tool); this is SURVEY.md §2.9 graft surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MASK64 = 0xFFFFFFFFFFFFFFFF


def _arrivals(pdfs, cols: tuple[str, ...]) -> list[tuple[int, ...]]:
    """The int64 ``cols`` of every row in one group's Arrow batches."""
    return [
        tuple(int(v) for v in row)
        for pdf in pdfs
        for row in zip(*(pdf[c].astype("int64") for c in cols))
    ]


def _pair_arrivals(
    members: list[tuple[int, int, int]],
    fresh: list[tuple[int, int, int]],
    max_hamming: int,
    ttl_ms: int,
) -> list[tuple[int, int, int, int]]:
    """Pair one band bucket's new (id, hash, ts_ms) arrivals -> (id_a,
    id_b, hamming, arrival ts_ms) rows, id_a < id_b.

    Each arrival pairs against every earlier member (history, then the
    earlier arrivals of this batch) whose event time is within
    ``ttl_ms`` of its own and whose hash is within ``max_hamming``, and
    is then appended to ``members`` in place. Arrivals go in id order,
    so the output does not depend on Arrow batch boundaries. An arrival
    whose id is already a member is a replay (source duplicate delivery
    / restart overlap): its pairs were already emitted, and re-appending
    would grow state and duplicate emissions, so it is skipped."""
    known = {m[0] for m in members}
    rows: list[tuple[int, int, int, int]] = []
    for i, h, t in sorted(fresh):
        if i in known:
            continue
        for j, g, u in members:
            if abs(t - u) > ttl_ms:
                continue
            d = bin((h ^ g) & _MASK64).count("1")
            if d <= max_hamming:
                a, b = (i, j) if i < j else (j, i)
                rows.append((a, b, d, t))
        members.append((i, h, t))
        known.add(i)
    return rows


def simhash_pairs_stream(
    docs_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int | None = None,
) -> DataFrame:
    """documents stream -> (id_a, id_b, hamming) append stream.

    Emits each verified pair once PER AGREEING BAND (see module
    docstring); id_a < id_b within every row."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..functions.text_udfs import simhash64_udf
    from ..operators.dedup import _explode_bands

    sh = docs_stream.select(
        F.col(id_col).alias("_id"), simhash64_udf(F.col(text_col)).alias("_sh")
    )
    banded = _explode_bands(sh, max_hamming, n_bands)

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("hamming", IntegerType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ids", ArrayType(LongType())),
            StructField("hs", ArrayType(LongType())),
        ]
    )

    def fn(key, pdfs, state):
        # unbounded retention: every member sits at event time 0, so the
        # kernel's age check never drops a pair
        members = [(int(i), int(h), 0) for i, h in zip(*state.get)] if state.exists else []
        n_old = len(members)
        fresh = [(i, h, 0) for i, h in _arrivals(pdfs, ("_id", "_sh"))]
        rows = _pair_arrivals(members, fresh, max_hamming, 0)
        if len(members) > n_old:
            state.update(([m[0] for m in members], [m[1] for m in members]))
        if rows:
            yield pd.DataFrame([r[:3] for r in rows], columns=["id_a", "id_b", "hamming"])

    return banded.groupBy("band_no", "band_val").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def simhash_pairs_stream_ttl(
    docs_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    ttl_seconds: int = 7200,
    watermark_delay: str = "1 day",
    max_hamming: int = 3,
    n_bands: int | None = None,
    dedup_cross_band: bool = False,
) -> DataFrame:
    """BOUNDED-STATE streaming near-dup (r5 verdict ask #7): the TTL'd
    variant of ``simhash_pairs_stream`` -> (id_a, id_b, hamming, ts)
    append stream, where ``ts`` is the NEWER member's event time.

    Semantics (the oracled bounded-window contract): a pair emits iff
    hamming <= radius AND the two documents' event times are within
    ``ttl_seconds`` of each other — the batch twin is the plain banded
    join plus ``abs(ts_a - ts_b) <= ttl``. Exactness holds while event-
    time disorder stays within ``watermark_delay`` (the standard
    watermark contract); the TTL filter itself applies at EMIT time, so
    state eviction can never change the answer, only bound memory:

    - members with ts < watermark - ttl are pruned on every invocation
      (no future in-watermark arrival can pair with them), so per-bucket
      state is O(arrival rate x ttl), not O(corpus) — the bounded-state
      answer to the base operator's inherent O(corpus) retention;
    - idle buckets die wholesale via an event-time timeout at
      last-member-ts + ttl (state.remove), so key cardinality is also
      bounded by the active window.

    ``dedup_cross_band=True`` additionally chains
    ``dropDuplicatesWithinWatermark`` on (id_a, id_b) over the output's
    own event time — cross-band duplicate emissions (identical rows,
    identical ts by construction) collapse IN-STREAM with state bounded
    by the same watermark, instead of by a post-drain DISTINCT. Spark
    cannot prove a custom stateful operator only emits in-watermark
    event times, so chaining requires
    ``spark.sql.streaming.statefulOperator.checkCorrectness.enabled=
    false`` (the documented escape hatch for exactly this pattern); the
    emitted ts is always the triggering arrival's event time, which the
    ``watermark_delay`` disorder contract keeps inside the downstream
    watermark — the pinned stream==batch pytest is the evidence."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from ..functions.text_udfs import simhash64_udf
    from ..operators.dedup import _explode_bands

    ttl_ms = int(ttl_seconds) * 1000
    sh = docs_stream.withWatermark(ts_col, watermark_delay).select(
        F.col(id_col).alias("_id"),
        simhash64_udf(F.col(text_col)).alias("_sh"),
        F.col(ts_col).alias("_ts"),
        F.unix_millis(F.col(ts_col)).alias("_tms"),
    )
    banded = _explode_bands(sh, max_hamming, n_bands)

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("hamming", IntegerType()),
            StructField("ts", TimestampType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ids", ArrayType(LongType())),
            StructField("hs", ArrayType(LongType())),
            StructField("tms", ArrayType(LongType())),
        ]
    )

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        members = (
            [(int(i), int(h), int(t)) for i, h, t in zip(*state.get)] if state.exists else []
        )
        wm = state.getCurrentWatermarkMs()
        # prune: a member older than watermark - ttl can never satisfy
        # the |ts diff| <= ttl emit filter against an in-watermark
        # arrival — eviction bounds state without touching the answer
        members = [m for m in members if m[2] >= wm - ttl_ms]
        n_before = len(members)
        fresh = _arrivals(pdfs, ("_id", "_sh", "_tms"))
        rows = _pair_arrivals(members, fresh, max_hamming, ttl_ms)
        if not members:
            if state.exists:
                state.remove()
        elif len(members) != n_before or len(fresh):
            state.update(
                (
                    [m[0] for m in members],
                    [m[1] for m in members],
                    [m[2] for m in members],
                )
            )
            # the whole bucket is dead once the watermark passes its
            # newest member's ts + ttl; must be strictly beyond the
            # current watermark per the GroupState contract
            state.setTimeoutTimestamp(
                max(wm + 1, max(m[2] for m in members) + ttl_ms + 1)
            )
        if rows:
            out = pd.DataFrame(rows, columns=["id_a", "id_b", "hamming", "ts"])
            out["ts"] = pd.to_datetime(out["ts"], unit="ms")
            yield out

    pairs = banded.groupBy("band_no", "band_val").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    if dedup_cross_band:
        # cross-band duplicates of one pair share the same (id_a, id_b,
        # ts) by construction, so watermark-bounded streaming dedup
        # collapses them exactly.
        #
        # The long->string->long cast round-trip (exact for all int64)
        # is a REQUIRED row-materialization barrier: Spark 4.1 plans the
        # downstream dedup's exchange directly over the Arrow-backed
        # ColumnarBatchRow output of applyInPandasWithState and the
        # UnsafeRow shuffle serializer throws ClassCastException; a
        # non-foldable projection forces an UnsafeProjection in between
        # (a trivial `+0` gets constant-folded away and the crash
        # returns).
        pairs = pairs.select(
            F.col("id_a").cast("string").cast("long").alias("id_a"),
            F.col("id_b").cast("string").cast("long").alias("id_b"),
            "hamming",
            "ts",
        )
        pairs = pairs.withWatermark("ts", watermark_delay).dropDuplicatesWithinWatermark(
            ["id_a", "id_b"]
        )
    return pairs
