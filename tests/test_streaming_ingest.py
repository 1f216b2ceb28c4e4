"""Streaming ingest (streaming/ingest.py): exactly-once incremental append.

Drives the real operating mode: a file drop-box source, two separate
AvailableNow runs against the same checkpoint — the second run must pick up
ONLY the files dropped after the first, and a re-run with nothing new must
append nothing (no duplicates, the exactly-once property)."""

from __future__ import annotations

import json
import os

import pytest

from bemidb_spark.sources.catalog import Catalog
from bemidb_spark.sources.writer import read_table
from bemidb_spark.streaming.ingest import stream_append


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def _drop(dirpath: str, name: str, rows: list[dict]) -> None:
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def test_stream_append_incremental_exactly_once(spark, cat, tmp_path):
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    _drop(inbox, "a.json", [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}])

    def stream():
        return (
            spark.readStream.schema("id bigint, v string").json(inbox)
            .withColumn("v", __import__("pyspark").sql.functions.upper("v"))
        )

    stream_append(spark, cat, "public", "inbox_t", stream(), ckpt)
    got = {(r.id, r.v) for r in read_table(spark, cat, "public", "inbox_t").collect()}
    assert got == {(1, "A"), (2, "B")}

    # second drop: only the new file is processed
    _drop(inbox, "b.json", [{"id": 3, "v": "c"}])
    stream_append(spark, cat, "public", "inbox_t", stream(), ckpt)
    got = {(r.id, r.v) for r in read_table(spark, cat, "public", "inbox_t").collect()}
    assert got == {(1, "A"), (2, "B"), (3, "C")}

    # nothing new: no duplicates appear (exactly-once)
    stream_append(spark, cat, "public", "inbox_t", stream(), ckpt)
    rows = read_table(spark, cat, "public", "inbox_t").collect()
    assert len(rows) == 3


def test_stream_append_coexists_with_batch_appends(spark, cat, tmp_path):
    """ADVICE r2 (high): the streaming path must not write a _spark_metadata
    sink log beside the table's files — a directory with one is read through
    it exclusively, hiding other files and later batch appends.
    Sequence: batch-create -> stream-append -> batch-append -> stream-append;
    every row from every path must stay visible."""
    import glob

    from bemidb_spark.sources.writer import append_rows, replace_table

    inbox = str(tmp_path / "inbox2")
    ckpt = str(tmp_path / "ckpt2")
    # 1. pre-existing batch table
    replace_table(cat, "public", "mixed_t", spark.createDataFrame(
        [(1, "batch0")], "id bigint, v string"))
    # 2. streaming append into the same table
    _drop(inbox, "a.json", [{"id": 2, "v": "stream1"}])
    stream_append(
        spark, cat, "public", "mixed_t",
        spark.readStream.schema("id bigint, v string").json(inbox), ckpt)
    assert not glob.glob(f"{cat.location('public', 'mixed_t')}/**/_spark_metadata",
                         recursive=True)
    # 3. batch append (append_with_cursor shape)
    append_rows(spark, cat, "public", "mixed_t", spark.createDataFrame(
        [(3, "batch1")], "id bigint, v string"))
    # 4. second streaming run
    _drop(inbox, "b.json", [{"id": 4, "v": "stream2"}])
    stream_append(
        spark, cat, "public", "mixed_t",
        spark.readStream.schema("id bigint, v string").json(inbox), ckpt)
    got = {(r.id, r.v) for r in read_table(spark, cat, "public", "mixed_t").collect()}
    assert got == {(1, "batch0"), (2, "stream1"), (3, "batch1"), (4, "stream2")}


def test_stream_append_replay_is_idempotent(spark, cat, tmp_path):
    """A batch replayed after a simulated crash (marker missing, partial
    files present) converges to exactly one copy of the batch's rows."""
    from bemidb_spark.streaming.ingest import stream_append as _sa

    inbox = str(tmp_path / "inbox3")
    ckpt = str(tmp_path / "ckpt3")
    _drop(inbox, "a.json", [{"id": i, "v": "x"} for i in range(10)])
    _sa(spark, cat, "public", "replay_t",
        spark.readStream.schema("id bigint, v string").json(inbox), ckpt)
    files = [f for f in cat.files("public", "replay_t")
             if os.path.basename(f).startswith("sb0-")]
    assert files, "streamed files should use deterministic sb{batch} names"
    # simulate a crash AFTER files moved but BEFORE the marker was written:
    # delete the marker and checkpoint commit log entry -> re-run replays it
    marker = os.path.join(ckpt, "committed_batches", "0.done")
    os.remove(marker)
    for log in ("commits", "offsets"):
        for fname in ("0", ".0.crc"):
            p = os.path.join(ckpt, log, fname)
            if os.path.exists(p):
                os.remove(p)
    _sa(spark, cat, "public", "replay_t",
        spark.readStream.schema("id bigint, v string").json(inbox), ckpt)
    rows = read_table(spark, cat, "public", "replay_t").collect()
    assert len(rows) == 10  # replay overwrote, not duplicated


def test_stream_append_rejects_batch_df(spark, cat):
    with pytest.raises(ValueError, match="streaming"):
        stream_append(spark, cat, "public", "x",
                      spark.range(3), "/tmp/unused-ckpt")


def test_stream_apply_cdc_merges_change_stream(spark, cat, tmp_path):
    """Streaming CDC apply: upserts + tombstones merge into table state
    across two AvailableNow runs, matching the batch cdc_apply_changes
    semantics (last change per key wins; a re-run with nothing new is a
    no-op)."""
    from bemidb_spark.streaming.ingest import stream_apply_cdc

    inbox = str(tmp_path / "cdc_inbox")
    ckpt = str(tmp_path / "cdc_ckpt")
    schema = "id bigint, v string, op string, seq bigint"

    def stream():
        return spark.readStream.schema(schema).json(inbox)

    # run 1: inserts + an in-batch update (seq 4 supersedes seq 1 for id=1)
    _drop(inbox, "a.json", [
        {"id": 1, "v": "a0", "op": "U", "seq": 1},
        {"id": 2, "v": "b0", "op": "U", "seq": 2},
        {"id": 3, "v": "c0", "op": "U", "seq": 3},
        {"id": 1, "v": "a1", "op": "U", "seq": 4},
    ])
    stream_apply_cdc(
        spark, cat, "public", "cdc_t", stream(),
        key_cols=["id"], seq_col="seq", checkpoint_dir=ckpt)
    got = {(r.id, r.v) for r in read_table(spark, cat, "public", "cdc_t").collect()}
    assert got == {(1, "a1"), (2, "b0"), (3, "c0")}

    # run 2: delete id=2, update id=3, insert id=4
    _drop(inbox, "b.json", [
        {"id": 2, "v": None, "op": "D", "seq": 5},
        {"id": 3, "v": "c1", "op": "U", "seq": 6},
        {"id": 4, "v": "d0", "op": "U", "seq": 7},
    ])
    n = stream_apply_cdc(
        spark, cat, "public", "cdc_t", stream(),
        key_cols=["id"], seq_col="seq", checkpoint_dir=ckpt)
    assert n == 1
    got = {(r.id, r.v) for r in read_table(spark, cat, "public", "cdc_t").collect()}
    assert got == {(1, "a1"), (3, "c1"), (4, "d0")}

    # run 3: nothing new -> no batches applied, state unchanged
    n = stream_apply_cdc(
        spark, cat, "public", "cdc_t", stream(),
        key_cols=["id"], seq_col="seq", checkpoint_dir=ckpt)
    assert n == 0
    assert len(read_table(spark, cat, "public", "cdc_t").collect()) == 3


def test_late_data_drop_drops_stragglers(spark, sf_dir):
    """Append-mode watermark semantics end-to-end: the staged stragglers are
    (a) counted by numRowsDroppedByWatermark and (b) absent from the emitted
    per-day aggregates, which otherwise equal the batch answer over the
    watermark-closed windows."""
    from bemidb_spark.streaming import windows as W

    got = {r.day: (r.n, r.total_value)
           for r in W.QUERIES["streaming_late_data_drop"](spark, sf_dir).collect()}
    assert W.LAST_DROPPED_BY_WATERMARK.get("stream_late_drop", 0) > 0

    from bemidb_spark.tables import register_views

    register_views(spark, sf_dir)
    batch = spark.sql(f"""
        WITH src AS (
          SELECT CAST(ts AS TIMESTAMP) AS ts, event_id, value FROM events
        ),
        wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS final_wm FROM src)
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM src CROSS JOIN wm
        WHERE NOT (event_id % {W.LATE_MOD} = 0 AND ts < TIMESTAMP '{W.LATE_CUTOFF}')
          AND date_trunc('day', ts) + INTERVAL 1 DAY <= wm.final_wm
        GROUP BY 1
    """)
    want = {r.day: (r.n, r.total_value) for r in batch.collect()}
    assert got == want


def test_streaming_minhash_dedup_cross_batch_state(spark, tmp_path):
    """Bucket ownership must persist in GroupState ACROSS micro-batches:
    a near-duplicate arriving in a LATER batch is flagged against the
    earlier batch's owner (the at-ingest contract). The oracle gate runs
    the bounded input as one batch, so this is the only place the
    cross-batch property is observable — maxFilesPerTrigger=1 forces one
    micro-batch per dropped file."""
    import pyspark.sql.functions as F

    from bemidb_spark.streaming.stateful import minhash_tag_stream

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    nearly = base.replace("kappa", "kappa2")  # high-jaccard near-dup
    other = ("one two three four five six seven eight nine ten eleven "
             "twelve thirteen fourteen fifteen sixteen")
    inbox = str(tmp_path / "docs")
    os.makedirs(inbox)
    # batch 1: the original + an unrelated doc; batch 2: the near-dup +
    # an exact dup of the unrelated doc
    spark.createDataFrame([(10, base), (20, other)], "doc_id bigint, text string") \
        .coalesce(1).write.mode("overwrite").parquet(inbox + "/b1")
    spark.createDataFrame([(30, nearly), (40, other)], "doc_id bigint, text string") \
        .coalesce(1).write.mode("overwrite").parquet(inbox + "/b2")

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(inbox)
    )
    tagged = minhash_tag_stream(stream)
    q = (
        tagged.writeStream.format("memory").queryName("mh_xbatch")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.processAllAvailable()
    n_batches = len([p for p in q.recentProgress])
    q.stop()
    assert n_batches >= 2, "maxFilesPerTrigger must split the input"

    rows = spark.sql(
        "SELECT doc_id, MAX(dup) AS d FROM ("
        "  SELECT doc_id, band_no, MAX(dup) AS dup FROM mh_xbatch"
        "  GROUP BY doc_id, band_no"
        ") per_band GROUP BY doc_id ORDER BY doc_id"
    ).collect()
    verdict = {r.doc_id: r.d for r in rows}
    # originals own their buckets; later arrivals sharing any bucket flag
    assert verdict[10] == 0 and verdict[20] == 0, verdict
    assert verdict[40] == 1, verdict  # exact dup across batches
    assert verdict[30] == 1, verdict  # near-dup across batches (minhash)


def test_bucket_owner_update_fns_unit():
    """Pure-pandas unit coverage of the GroupState transition functions:
    ownership = min(prior, batch ids); within a batch the smallest id owns
    (no arrival nondeterminism); owners are never self-flagged; the
    embedding variant emits the effective owner id (or NULL for the owner
    itself) for the downstream exact-cosine verify join."""
    import pandas as pd

    from bemidb_spark.streaming.stateful import (
        _update_bucket_owner,
        _update_bucket_owner_vec,
    )

    class FakeState:
        def __init__(self, val=None):
            self._v = val

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    # batch 1, fresh bucket: 7 owns, 9 is dup-of-7
    st = FakeState()
    [out] = _update_bucket_owner(
        (0, "d"), iter([pd.DataFrame({"doc_id": [9, 7]})]), st)
    assert list(out.doc_id) == [7, 9] and list(out.dup) == [0, 1]
    assert st.get == (7,)
    # batch 2, smaller id arrives late: flagged against nothing (contract:
    # verdicts are not retracted), but state min still updates
    [out] = _update_bucket_owner(
        (0, "d"), iter([pd.DataFrame({"doc_id": [3]})]), st)
    assert list(out.dup) == [0] and st.get == (3,)
    # batch 3: anything larger is now a dup of 3
    [out] = _update_bucket_owner(
        (0, "d"), iter([pd.DataFrame({"doc_id": [5]})]), st)
    assert list(out.dup) == [1]

    # embedding variant: emits owner ids for the verify join
    st = FakeState()
    [out] = _update_bucket_owner_vec(
        (1, 4), iter([pd.DataFrame({"vec_id": [12, 10]})]), st)
    assert list(out.vec_id) == [10, 12]
    assert out.owner.isna().tolist() == [True, False]
    assert out.owner.dropna().tolist() == [10]
    [out] = _update_bucket_owner_vec(
        (1, 4), iter([pd.DataFrame({"vec_id": [11]})]), st)
    assert out.owner.tolist() == [10] and st.get == (10,)


def test_streaming_minhash_dedup_state_survives_restart(spark, tmp_path):
    """Restart continuity: bucket-ownership GroupState must be RESTORED from
    the checkpoint state store when the tagger restarts — run 2 never sees
    run 1's documents, yet a near-dup arriving after the restart is flagged
    against run 1's owner. Also proves the file source's exactly-once file
    tracking: run 2 processes only the newly dropped file. Uses the
    operator's append output mode into a parquet sink (the fault-tolerant
    production shape; memory-sink runs elsewhere are test plumbing)."""
    from bemidb_spark.streaming.stateful import minhash_tag_stream

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    nearly = base.replace("iota", "iota9")
    inbox = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)
    spark.createDataFrame([(10, base)], "doc_id bigint, text string") \
        .coalesce(1).write.mode("overwrite").parquet(inbox + "/b1")

    def run_once():
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("recursiveFileLookup", "true")
            .parquet(inbox)
        )
        q = (
            minhash_tag_stream(stream, output_mode="append")
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()  # run 1: doc 10 claims its buckets
    spark.createDataFrame([(30, nearly)], "doc_id bigint, text string") \
        .coalesce(1).write.mode("overwrite").parquet(inbox + "/b2")
    run_once()  # run 2: restored state must flag doc 30 against doc 10

    rows = spark.read.parquet(out).groupBy("doc_id").agg(
        {"dup": "max"}).withColumnRenamed("max(dup)", "d").collect()
    verdict = {r.doc_id: r.d for r in rows}
    assert verdict == {10: 0, 30: 1}, verdict
    # exactly-once: doc 10's band rows were not re-emitted by run 2
    n10 = spark.read.parquet(out).where("doc_id = 10").count()
    assert n10 == 4, n10  # one row per band, from run 1 only


def test_bucket_owner_ttl_fn_unit():
    """TTL variant: a timed-out invocation removes the state and emits
    nothing; live invocations arm the processing-time timer."""
    import pandas as pd

    from bemidb_spark.streaming.stateful import _bucket_owner_fn

    class FakeState:
        def __init__(self, val=None, timed_out=False):
            self._v, self.hasTimedOut = val, timed_out
            self.removed, self.timeout_set = False, None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v, self.removed = None, True

        def setTimeoutDuration(self, ms):
            self.timeout_set = ms

    fn = _bucket_owner_fn(ttl_ms=500)
    st = FakeState()
    [out] = fn((0, "d"), iter([pd.DataFrame({"doc_id": [5]})]), st)
    assert list(out.dup) == [0] and st.get == (5,) and st.timeout_set == 500
    # timeout invocation: state removed, nothing emitted
    st.hasTimedOut = True
    assert list(fn((0, "d"), iter([]), st)) == [] and st.removed


def test_streaming_minhash_dedup_ttl_evicts_and_relearns(spark, tmp_path):
    """Live TTL semantics across checkpointed runs: run 1's bucket owner
    expires while run 2 (unrelated docs) triggers the timeout sweep, so a
    near-dup arriving in run 3 is NOT flagged — ownership was evicted and
    re-learned ("first within the horizon", the unbounded-run state bound).
    Contrast test_streaming_minhash_dedup_state_survives_restart, where the
    no-TTL tagger flags the same arrival."""
    import time

    from bemidb_spark.streaming.stateful import minhash_tag_stream

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    nearly = base.replace("zeta", "zeta7")
    other = "one two three four five six seven eight nine ten eleven twelve"
    inbox = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)

    def run_once():
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("recursiveFileLookup", "true")
            .parquet(inbox)
        )
        # Trigger.Once, NOT AvailableNow: with processing-time timers an
        # AvailableNow query never terminates — it loops "no new data but
        # cleaning up state" batches waiting on future timers (observed
        # live; a documented arbitrary-stateful limitation). Each Once
        # batch processes the new file AND fires timers already due.
        q = (
            minhash_tag_stream(stream, output_mode="append", state_ttl_ms=500)
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(once=True).start()
        )
        q.awaitTermination(120)
        q.stop()

    spark.createDataFrame([(10, base)], "doc_id bigint, text string") \
        .coalesce(1).write.mode("overwrite").parquet(inbox + "/b1")
    run_once()              # doc 10 claims its buckets, timers armed
    time.sleep(1.0)         # let the 500 ms TTL lapse
    spark.createDataFrame([(20, other)], "doc_id bigint, text string") \
        .coalesce(1).write.mode("overwrite").parquet(inbox + "/b2")
    run_once()              # unrelated batch -> timeout sweep evicts 10's buckets
    spark.createDataFrame([(30, nearly)], "doc_id bigint, text string") \
        .coalesce(1).write.mode("overwrite").parquet(inbox + "/b3")
    run_once()              # near-dup of 10 arrives AFTER eviction

    rows = spark.read.parquet(out).groupBy("doc_id").agg(
        {"dup": "max"}).withColumnRenamed("max(dup)", "d").collect()
    verdict = {r.doc_id: r.d for r in rows}
    assert verdict == {10: 0, 20: 0, 30: 0}, verdict  # 30 re-learned, not flagged


def test_space_saving_update_fn_unit():
    """Space-saving transition function: exact under capacity, increments
    existing counters, eviction inherits min count with err = evicted count,
    merge order (count DESC, key ASC) is arrival-order independent."""
    import pandas as pd

    from bemidb_spark.streaming.stateful import _make_space_saving

    _update_space_saving = _make_space_saving(2)  # tiny capacity: eviction path

    class FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    if True:
        st = FakeState()
        # batch 1: two keys fit exactly; counts exact, err 0
        [out] = _update_space_saving(
            (0,), iter([pd.DataFrame({"user_id": [7, 7, 9]})]), st)
        assert dict(zip(out.user_id, out.cnt)) == {7: 2, 9: 1}
        assert list(out.err) == [0, 0] and list(out.n_seen) == [3, 3]
        # batch 2: existing key increments without eviction
        [out] = _update_space_saving(
            (0,), iter([pd.DataFrame({"user_id": [9, 9]})]), st)
        assert dict(zip(out.user_id, out.cnt)) == {7: 2, 9: 3}
        # batch 3: new key evicts the min counter (7: count 2), inherits it
        [out] = _update_space_saving(
            (0,), iter([pd.DataFrame({"user_id": [5]})]), st)
        got = {u: (c, e) for u, c, e in zip(out.user_id, out.cnt, out.err)}
        assert got == {9: (3, 0), 5: (3, 2)}   # 5 overestimated, err bound 2
        assert list(out.n_seen) == [6, 6]

        # arrival-order independence within a batch: same multiset, two orders
        a, b = FakeState(), FakeState()
        [oa] = _update_space_saving(
            (0,), iter([pd.DataFrame({"user_id": [1, 2, 2, 3]})]), a)
        [ob] = _update_space_saving(
            (0,), iter([pd.DataFrame({"user_id": [3, 2, 1, 2]})]), b)
        assert a.get == b.get
        assert oa.to_dict("records") == ob.to_dict("records")


def test_streaming_heavy_hitters_matches_batch(spark):
    """End-to-end at sf0.001: the sketch at full capacity equals the exact
    batch top-10 (the same contract the driver oracle pins at sf0.01)."""
    from conftest import SF_DIR

    from bemidb_spark.streaming.stateful import _streaming_heavy_hitters
    from bemidb_spark.tables import register_views

    register_views(spark, SF_DIR)
    got = _streaming_heavy_hitters(spark, SF_DIR).collect()
    exact = spark.sql("""
        SELECT user_id, COUNT(*) AS n_events, CAST(0 AS BIGINT) AS err
        FROM events GROUP BY user_id
        ORDER BY n_events DESC, user_id LIMIT 10
    """).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exact]


def test_kmv_update_fn_unit():
    """KMV transition: dedups across batches, caps at k smallest, and the
    final sketch is independent of how the same values are batched."""
    import pandas as pd

    import bemidb_spark.streaming.stateful as st_mod
    from bemidb_spark.streaming.stateful import _update_kmv

    class FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    orig = st_mod._KMV_K
    st_mod._KMV_K = 4
    try:
        st = FakeState()
        [out] = _update_kmv(
            ("a",), iter([pd.DataFrame({"hv": [50, 10, 50, 30]})]), st)
        assert st.get == ([10, 30, 50], 4)
        assert out.n_kept.iloc[0] == 3 and out.kth_hash.iloc[0] == 50
        # second batch: dedup vs state, cap at k=4 smallest
        [out] = _update_kmv(
            ("a",), iter([pd.DataFrame({"hv": [20, 10, 99, 5]})]), st)
        assert st.get == ([5, 10, 20, 30], 8)
        assert out.kth_hash.iloc[0] == 30

        # batching independence: one batch vs two batches, same value set
        one, two = FakeState(), FakeState()
        vals = [50, 10, 30, 20, 99, 5]
        [a] = _update_kmv(("a",), iter([pd.DataFrame({"hv": vals})]), one)
        [_] = _update_kmv(("a",), iter([pd.DataFrame({"hv": vals[:3]})]), two)
        [b] = _update_kmv(("a",), iter([pd.DataFrame({"hv": vals[3:]})]), two)
        assert one.get[0] == two.get[0]
        assert a.kth_hash.iloc[0] == b.kth_hash.iloc[0]
    finally:
        st_mod._KMV_K = orig


def test_streaming_kmv_estimate_accuracy(spark):
    """At sf0.001 each event type sees ~150 distinct users (> k=64), so the
    entry exercises the estimation path; KMV with k=64 has ~1/sqrt(62) ≈ 13%
    relative std — assert every estimate lands within 40% of truth."""
    from conftest import SF_DIR

    from bemidb_spark.streaming.stateful import _streaming_kmv_distinct
    from bemidb_spark.tables import register_views

    register_views(spark, SF_DIR)
    est = {r.event_type: r.est_distinct
           for r in _streaming_kmv_distinct(spark, SF_DIR).collect()}
    true = {r.event_type: r.n for r in spark.sql(
        "SELECT event_type, COUNT(DISTINCT user_id) AS n "
        "FROM events GROUP BY event_type").collect()}
    assert set(est) == set(true)
    for et, n in true.items():
        assert abs(est[et] - n) <= 0.4 * n, (et, est[et], n)


def test_stream_shuffle_width_policy(spark, monkeypatch):
    """State-store width for bounded streaming runs (windows._stream_shuffle_width):
    env override wins; the small-input profile (AQE off) gets the probed
    constant; at scale the session's own shuffle parallelism holds."""
    from bemidb_spark.streaming.windows import _stream_shuffle_width

    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    try:
        monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", "13")
        assert _stream_shuffle_width(spark) == "13"
        monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE")
        spark.conf.set(key, "false")  # small-input profile marker
        assert _stream_shuffle_width(spark) == "2"
        spark.conf.set(key, "true")   # scale profile: inherit the session
        assert _stream_shuffle_width(spark) == spark.conf.get(
            "spark.sql.shuffle.partitions")
    finally:
        spark.conf.set(key, prev)


def test_no_data_batch_skip_is_output_neutral_and_restores_conf(spark):
    """r10: the stream-stream INNER join entry skips the trailing no-data
    micro-batch (it only evicts expired join state on a bounded run — the
    probe measured it re-running the full join plan for ~1.3 s). Pin that
    (a) the skip produces exactly the rows the default run produces, and
    (b) _run_to_memory restores the session conf either way."""
    from bemidb_spark.streaming import windows as W

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key)
    sf_dir = "/root/testdata/sf0.001"

    def join_rows(skip: bool):
        orig = W._run_to_memory

        def forced(df, name, output_mode="complete", no_data_batches=True):
            return orig(df, name, output_mode=output_mode,
                        no_data_batches=not skip)

        W._run_to_memory = forced
        try:
            df = W.QUERIES["streaming_click_purchase_join"](spark, sf_dir)
            rows = sorted(map(tuple, df.collect()))
        finally:
            W._run_to_memory = orig
        assert spark.conf.get(key) == prev  # restored after the run
        return rows

    assert join_rows(skip=True) == join_rows(skip=False)
