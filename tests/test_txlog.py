"""TxTable — optimistic-commit transaction log (round 14).

The claim under test is the one the staged-swap layer could not make:
MULTI-WRITER safety without any external lock. Writers race on the
put-if-absent version claim; losers of read-modify-write races
re-execute from the fresh snapshot, so no committed effect is ever
lost (the lost-update anomaly is the explicit regression pin here).
"""

from __future__ import annotations

import os
import tempfile
import threading

import pytest
from pyspark.sql import functions as F

from etl_generator_demo_spark.sources.txlog import CommitConflict, TxTable


def _mk(spark, tmp_path, rows=None):
    df = spark.createDataFrame(
        rows if rows is not None else [(k, k * 10) for k in range(10)],
        "k long, v long",
    )
    return TxTable.create(spark, str(tmp_path / "t"), df)


def test_create_read_history(spark, tmp_path):
    tab = _mk(spark, tmp_path)
    assert tab.latest_version() == 0
    assert tab.read().count() == 10
    (h,) = tab.history()
    assert h["op"] == "create" and h["version"] == 0


def test_dml_sequence_and_time_travel(spark, tmp_path):
    tab = _mk(spark, tmp_path)
    tab.append(spark.createDataFrame([(k, k * 10) for k in range(10, 15)], "k long, v long"))
    tab.delete("k % 2 = 1")
    tab.update({"v": "v + 1"}, "k < 4")
    tab.merge(
        spark.createDataFrame([(0, 999), (100, 1000)], "k long, v long"), ["k"]
    )
    ops = [h["op"] for h in tab.history()]
    assert ops == ["create", "append", "delete", "update", "merge"]
    # time travel reconstructs every intermediate state
    assert tab.read(version=0).count() == 10
    assert tab.read(version=1).count() == 15
    assert tab.read(version=2).count() == 8  # evens 0..14
    v3 = {r["k"]: r["v"] for r in tab.read(version=3).collect()}
    assert v3[0] == 1 and v3[2] == 21 and v3[4] == 40
    v4 = {r["k"]: r["v"] for r in tab.read(version=4).collect()}
    assert v4[0] == 999 and v4[100] == 1000 and len(v4) == 9


def test_create_twice_raises(spark, tmp_path):
    _mk(spark, tmp_path)
    with pytest.raises(FileExistsError):
        TxTable.create(
            spark, str(tmp_path / "t"), spark.createDataFrame([(1, 1)], "k long, v long")
        )


def test_merge_duplicate_source_keys_raise(spark, tmp_path):
    tab = _mk(spark, tmp_path)
    with pytest.raises(ValueError):
        tab.merge(
            spark.createDataFrame([(1, 1), (1, 2)], "k long, v long"), ["k"]
        )


def test_merge_duplicate_null_source_keys_raise(spark, tmp_path):
    """NULL keys count as one value, as DISTINCT counts them: two NULL
    keys are a duplicate, one NULL key merges as an insert."""
    tab = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="duplicate keys"):
        tab.merge(
            spark.createDataFrame([(None, 1), (None, 2)], "k long, v long"), ["k"]
        )
    tab.merge(spark.createDataFrame([(None, 1)], "k long, v long"), ["k"])
    assert tab.read().filter(F.col("k").isNull()).count() == 1


#: Jobs of one ``TxTable.merge`` on a 100-row table (4 cores). The
#: source check is one aggregate; two separate counts made it 9.
MERGE_JOBS = 7


def test_merge_job_count_pinned(spark, tmp_path, job_delta):
    tab = _mk(spark, tmp_path, rows=[(k, k * 10) for k in range(100)])
    src = spark.createDataFrame([(0, 999), (100, 1000)], "k long, v long")
    n, _ = job_delta(lambda: tab.merge(src, ["k"]))
    assert n <= MERGE_JOBS, n
    assert tab.read().count() == 101


def test_concurrent_appends_all_commit_without_lock(spark, tmp_path):
    """8 threads append concurrently with NO external serialization:
    every commit lands (dense versions), no rows lost."""
    tab = _mk(spark, tmp_path, rows=[(0, 0)])
    n_writers, rows_each = 8, 5
    errs = []

    def writer(i):
        try:
            df = spark.createDataFrame(
                [(1000 * i + j, i) for j in range(rows_each)], "k long, v long"
            )
            TxTable(spark, str(tmp_path / "t")).append(df)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(i,)) for i in range(n_writers)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert tab.latest_version() == n_writers  # v0 + 8 appends, dense
    assert tab.read().count() == 1 + n_writers * rows_each
    # every version file parses and chains read_version correctly
    for h in tab.history()[1:]:
        assert h["op"] == "append"


def test_concurrent_updates_no_lost_update(spark, tmp_path):
    """The lost-update anomaly: two unsynchronized v = v + 1 writers
    must BOTH apply (flockless — the optimistic retry serializes)."""
    tab = _mk(spark, tmp_path, rows=[(1, 0)])
    errs = []

    def bump():
        try:
            TxTable(spark, str(tmp_path / "t")).update({"v": "v + 1"}, "k = 1")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=bump) for _ in range(4)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    (row,) = tab.read().collect()
    assert row["v"] == 4  # all four increments applied, in some order
    assert tab.latest_version() == 4


def test_snapshot_isolation_pinned_read(spark, tmp_path):
    """A reader pinned to a version sees the same data after later
    commits (immutable files + manifest pinning)."""
    tab = _mk(spark, tmp_path)
    pinned = tab.read(version=0)
    tab.delete("k >= 0")  # wipe everything at v1
    assert tab.read().count() == 0
    assert pinned.count() == 10  # the pinned snapshot is untouched


def test_put_if_absent_claim(spark, tmp_path):
    tab = _mk(spark, tmp_path)
    m = tab._read_manifest(0)
    assert tab._try_commit(0, m) is False  # taken
    assert tab._try_commit(1, dict(m, op="noop")) is True
    assert tab.latest_version() == 1


def test_vacuum_removes_only_old_unreferenced_files(spark, tmp_path):
    tab = _mk(spark, tmp_path)
    v0_files = set(tab.snapshot(0)["files"])
    tab.overwrite(spark.createDataFrame([(1, 1)], "k long, v long"))  # v1
    tab.overwrite(spark.createDataFrame([(2, 2)], "k long, v long"))  # v2
    # retain last 2 versions (v1, v2): v0's files are unreferenced
    removed = tab.vacuum(retain_last=2, min_age_sec=0)
    assert v0_files <= set(removed)
    assert tab.read(version=1).count() == 1  # retained window intact
    assert tab.read(version=2).count() == 1
    # age floor protects fresh files: a brand-new orphan survives
    orphan = os.path.join(tab.data_dir, "fresh-orphan.parquet")
    open(orphan, "w").write("x")
    assert "fresh-orphan.parquet" not in tab.vacuum(retain_last=1, min_age_sec=3600)
    os.remove(orphan)


def test_crashed_writer_leaves_no_visible_effect(spark, tmp_path):
    """Files written without a claimed manifest (a crash before
    commit) are invisible to readers and swept by vacuum."""
    tab = _mk(spark, tmp_path)
    tab._write_data_files(
        spark.createDataFrame([(99, 99)], "k long, v long")
    )  # simulated crash: files on disk, no commit
    assert tab.read().count() == 10
    assert tab.latest_version() == 0
    removed = tab.vacuum(retain_last=1, min_age_sec=0)
    assert len(removed) >= 1
    assert tab.read().count() == 10


def test_registered_query_matches_mutation_layer(spark, sf_dir):
    """The registered d_txlog_time_travel query returns one row per
    version with monotone op labels (values hash-pinned by DuckDB in
    the oracle gate; this is the cheap structural pin)."""
    from etl_generator_demo_spark.sources.txlog import d_txlog_time_travel

    rows = d_txlog_time_travel(spark, sf_dir).collect()
    assert [r["op"] for r in rows] == ["create", "append", "delete", "update", "merge"]
    assert [r["version"] for r in rows] == [0, 1, 2, 3, 4]
    assert all(r["n_rows"] >= 0 for r in rows)


#: Spark job-id delta of one d_txlog_time_travel build on the sf0.001
#: fixture: the five commits (the MERGE's source check is one
#: aggregate), then one union-and-group rollup of the five snapshots.
TIME_TRAVEL_JOBS = 11


def test_time_travel_job_count_pinned(spark, sf_dir, job_delta):
    from etl_generator_demo_spark.sources.txlog import d_txlog_time_travel

    d_txlog_time_travel(spark, sf_dir).collect()  # warm the session
    n, _ = job_delta(lambda: d_txlog_time_travel(spark, sf_dir))
    assert n <= TIME_TRAVEL_JOBS, n


def test_rollup_by_version_empty_and_columnless_snapshots(spark):
    from etl_generator_demo_spark.sources.txlog import rollup_by_version

    full = spark.createDataFrame([(1.239,), (2.0,), (None,)], "o_totalprice double")
    empty = spark.createDataFrame(spark.sparkContext.emptyRDD(), "o_totalprice double")
    assert rollup_by_version({0: empty, 1: full, 2: full.limit(0)}) == {
        0: (0, 0, 0),
        1: (3, 2, 323),
        2: (0, 0, 0),
    }
    no_col = spark.createDataFrame([(1,)], "o_orderkey long")
    assert rollup_by_version({0: no_col}) == {0: (1, 0, 0)}


# --- transactional extensions: txn idempotence, streaming sink, OPTIMIZE ---


def test_txn_append_idempotent_on_replay(spark, tmp_path):
    from etl_generator_demo_spark.sources.txlog import txn_append

    tab = _mk(spark, tmp_path, rows=[(0, 0)])
    df = spark.createDataFrame([(1, 1), (2, 2)], "k long, v long")
    v1 = txn_append(tab, df, "appA", 0)
    assert v1 == 1 and tab.read().count() == 3
    assert txn_append(tab, df, "appA", 0) is None  # replay skipped
    assert tab.read().count() == 3
    # a LOWER version for the same app is also a replay (monotone)
    assert txn_append(tab, df, "appA", -1) is None
    # a different app with the same version is NOT a replay
    assert txn_append(tab, df, "appB", 0) == 2
    assert tab.read().count() == 5


def test_txn_append_racing_duplicates_commit_once(spark, tmp_path):
    """Two unsynchronized writers carrying the SAME (app_id, txn)
    commit exactly one of themselves — the exactly-once property a
    replayed foreachBatch needs under concurrency."""
    from etl_generator_demo_spark.sources.txlog import txn_append

    tab = _mk(spark, tmp_path, rows=[(0, 0)])
    results = []

    def writer():
        df = spark.createDataFrame([(7, 7)], "k long, v long")
        results.append(txn_append(TxTable(spark, str(tmp_path / "t")), df, "app", 5))

    ts = [threading.Thread(target=writer) for _ in range(4)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    committed = [r for r in results if r is not None]
    assert len(committed) == 1
    assert tab.read().filter("k = 7").count() == 1


def test_streaming_sink_exactly_once(spark, tmp_path):
    """availableNow stream -> txlog sink; DRAINING THE SAME CHECKPOINT
    twice commits nothing new, and a fresh checkpoint over the same
    source (a genuine replay without sink state) is also absorbed by
    txn idempotence."""
    from etl_generator_demo_spark.sources.txlog import txlog_stream_sink

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(k, k * 2) for k in range(20)], "k long, v long"
    ).coalesce(1).write.parquet(src)
    table = str(tmp_path / "sink_table")

    def drain(checkpoint: str):
        stream = spark.readStream.schema("k long, v long").parquet(src)
        q = (
            stream.writeStream.foreachBatch(txlog_stream_sink(table, "ingestA"))
            .trigger(availableNow=True)
            .option("checkpointLocation", checkpoint)
            .start()
        )
        q.awaitTermination(120)

    drain(str(tmp_path / "cp1"))
    tab = TxTable(spark, table)
    assert tab.read().count() == 20
    v_after_first = tab.latest_version()
    drain(str(tmp_path / "cp1"))  # same checkpoint: no new batches
    assert tab.read().count() == 20
    drain(str(tmp_path / "cp2"))  # fresh checkpoint REPLAYS batch 0
    assert tab.read().count() == 20  # absorbed by txn idempotence
    assert tab.latest_version() == v_after_first


def test_optimize_compacts_atomically_and_preserves_history(spark, tmp_path):
    from etl_generator_demo_spark.sources.txlog import optimize_txtable

    tab = _mk(spark, tmp_path, rows=[(0, 0)])
    for i in range(1, 4):
        tab.append(spark.createDataFrame([(i, i)], "k long, v long"))
    files_before = len(tab.snapshot()["files"])
    assert files_before >= 4
    v = optimize_txtable(tab, target_files=1)
    m = tab._read_manifest(v)
    assert m["op"] == "optimize" and len(tab.snapshot(v)["files"]) == 1
    # delta manifest: the rewrite removes every prior live file
    assert len(m["remove"]) == files_before and len(m["add"]) == 1
    assert tab.read().count() == 4  # same data
    assert tab.read(version=v - 1).count() == 4  # pre-compaction snapshot alive


# --- manifest statistics + file skipping (zone maps) -----------------------


def test_stats_recorded_and_file_skipping_after_clustering(spark, tmp_path):
    """Clustered OPTIMIZE + manifest min/max stats: a selective range
    read opens a strict subset of files (decided from the manifest
    alone) and returns exactly the predicate's rows."""
    from etl_generator_demo_spark.sources.txlog import (
        StatsTxTable,
        optimize_txtable_clustered,
    )

    df = spark.createDataFrame(
        [(k, k % 7) for k in range(2000)], "k long, v long"
    )
    path = str(tmp_path / "t")
    tab = StatsTxTable.create(spark, path, df)
    tab.stat_cols = ["k"]  # create() built via the base classmethod path
    # re-bind with stats and commit a clustered rewrite
    tab = StatsTxTable(spark, path, stat_cols=["k"])
    v = optimize_txtable_clustered(tab, ["k"], target_files=8)
    state = tab.snapshot(v)
    assert tab._read_manifest(v)["op"] == "optimize" and len(state["files"]) == 8
    assert all(state["file_stats"][f].get("k") for f in state["files"])
    out, files_read, files_total = tab.read_range("k", 100, 199)
    assert files_total == 8 and files_read <= 2  # ~1/8 slice of the key
    rows = sorted(r["k"] for r in out.collect())
    assert rows == list(range(100, 200))  # exact, never a superset


def test_file_skipping_is_conservative_without_stats(spark, tmp_path):
    """Files committed WITHOUT stats (base-class writer) are always
    read — skipping must never drop data it cannot prove dead."""
    from etl_generator_demo_spark.sources.txlog import StatsTxTable, TxTable

    df = spark.createDataFrame([(k, k) for k in range(100)], "k long, v long")
    path = str(tmp_path / "t")
    TxTable.create(spark, path, df)  # no stats recorded
    tab = StatsTxTable(spark, path, stat_cols=["k"])
    out, files_read, files_total = tab.read_range("k", 10, 19)
    assert files_read == files_total  # conservative: no stats -> read all
    assert sorted(r["k"] for r in out.collect()) == list(range(10, 20))


def test_stats_carry_forward_across_appends(spark, tmp_path):
    """An append's manifest keeps the prior files' stats (no footer
    re-reads) and adds the new files'; disjoint appends skip."""
    from etl_generator_demo_spark.sources.txlog import StatsTxTable

    path = str(tmp_path / "t")
    t0 = StatsTxTable(spark, path, stat_cols=["k"])
    df_lo = spark.createDataFrame([(k, 0) for k in range(100)], "k long, v long")
    # create through the stats writer so v0 carries stats too
    files = t0._write_data_files(df_lo)
    assert t0._try_commit(
        0,
        t0._build_manifest(
            "create",
            add=files,
            remove=[],
            base_state={"schema_ddl": "k long, v long", "txns": {}},
            read_version=None,
        ),
    )
    df_hi = spark.createDataFrame(
        [(k, 1) for k in range(1000, 1100)], "k long, v long"
    )
    t0.append(df_hi)
    out, files_read, files_total = t0.read_range("k", 1000, 1010)
    assert files_read < files_total  # the low-range create files skipped
    assert out.count() == 11
    out2, fr2, _ = t0.read_range("k", 5000, 6000)
    assert fr2 == 0 and out2.count() == 0  # nothing intersects: zero files


# --- round 15: delta manifests + checkpoints, typed stats, exactly-once ----


def test_delta_manifests_record_only_changed_files(spark, tmp_path):
    """Commit cost is O(changed files): an append to a table with many
    live files carries ONLY its own files in `add` and nothing in
    `remove` — the r14 full-file-list manifest (O(table files) per
    commit) is gone."""
    tab = _mk(spark, tmp_path, rows=[(0, 0)])
    for i in range(1, 5):
        tab.append(spark.createDataFrame([(i, i)], "k long, v long"))
    live_before = len(tab.snapshot()["files"])
    v = tab.append(spark.createDataFrame([(99, 99)], "k long, v long"))
    m = tab._read_manifest(v)
    assert m["remove"] == [] and 1 <= len(m["add"]) < live_before
    assert len(tab.snapshot(v)["files"]) == live_before + len(m["add"])


def test_checkpoint_written_and_resolves_snapshots(spark, tmp_path):
    """Past CHECKPOINT_INTERVAL commits, a checkpoint file exists and
    snapshot reads resolve THROUGH it (checkpoint + tail replay ==
    full replay, for every version — the read path at every offset
    from the checkpoint boundary)."""
    interval = TxTable.CHECKPOINT_INTERVAL
    tab = _mk(spark, tmp_path, rows=[(0, 0)])
    for i in range(1, interval + 3):
        tab.append(spark.createDataFrame([(i, i)], "k long, v long"))
    assert tab.latest_version() == interval + 2
    assert tab._checkpoint_versions() == [interval]
    assert os.path.exists(tab._checkpoint_path(interval))
    # checkpoint-resolved state == pure-delta replay at every version
    import json as _json

    for v in range(tab.latest_version() + 1):
        via_cp = tab._snapshot(v)["files"]
        # ground truth: replay every delta from 0 ignoring checkpoints
        state: dict[str, None] = {}
        for w in range(v + 1):
            m = tab._read_manifest(w)
            for f in m.get("remove", ()):
                state.pop(f, None)
            for f in m.get("add", ()):
                state.setdefault(f, None)
        assert via_cp == list(state), f"divergence at version {v}"
        assert tab.read(version=v).count() == v + 1
    cp = _json.load(open(tab._checkpoint_path(interval)))
    assert cp["version"] == interval
    assert cp["files"] == tab._snapshot(interval)["files"]


def test_checkpoint_carries_txn_highwater_and_stats(spark, tmp_path):
    """The txn high-water map and per-file stats survive INTO the
    checkpoint and keep working past it — a replay arriving after the
    checkpoint boundary is still absorbed, and file skipping still
    sees pre-checkpoint files' stats."""
    from etl_generator_demo_spark.sources.txlog import StatsTxTable, txn_append

    path = str(tmp_path / "t")
    tab = StatsTxTable(spark, path, stat_cols=["k"])
    files = tab._write_data_files(
        spark.createDataFrame([(k, 0) for k in range(100)], "k long, v long")
    )
    assert tab._try_commit(
        0,
        tab._build_manifest(
            "create",
            add=files,
            remove=[],
            base_state={"schema_ddl": "k long, v long", "txns": {}},
            read_version=None,
        ),
    )
    assert txn_append(
        tab, spark.createDataFrame([(1000, 1)], "k long, v long"), "app", 7
    ) == 1
    for i in range(TxTable.CHECKPOINT_INTERVAL + 1):
        tab.append(
            spark.createDataFrame([(2000 + i, 2)], "k long, v long")
        )
    assert tab._checkpoint_versions()  # boundary crossed
    # replay of (app, 7) after the checkpoint: still absorbed
    assert txn_append(
        tab, spark.createDataFrame([(1000, 1)], "k long, v long"), "app", 7
    ) is None
    # pre-checkpoint create files' stats still serve the range read
    out, files_read, files_total = tab.read_range("k", 0, 50)
    assert files_read < files_total
    assert out.count() == 51


def test_txn_highwater_carried_in_every_manifest(spark, tmp_path):
    """Every commit (including plain appends between txn_appends)
    carries the merged per-app map forward, so the replay check is one
    manifest read — the r14 advice's O(V^2) fix."""
    from etl_generator_demo_spark.sources.txlog import txn_append

    tab = _mk(spark, tmp_path, rows=[(0, 0)])
    txn_append(tab, spark.createDataFrame([(1, 1)], "k long, v long"), "appA", 3)
    tab.append(spark.createDataFrame([(2, 2)], "k long, v long"))  # plain
    txn_append(tab, spark.createDataFrame([(3, 3)], "k long, v long"), "appB", 1)
    m = tab._read_manifest(tab.latest_version())
    assert m["txns"] == {"appA": 3, "appB": 1}


def test_read_range_decimal_stats_compare_numerically(spark, tmp_path):
    """The r14 advice's silent-row-loss case: decimal stats stored as
    JSON strings would compare lexicographically ('9.50' > '10.20'),
    wrongly skipping the file holding 9.50. Two defenses now hold: the
    stats collector records nothing for types pyarrow cannot decode
    (decimal raises ArrowNotImplementedError), and read_range's typed
    codec decodes any decimal stat that IS present back to Decimal —
    either way the file is read and the rows come back."""
    from decimal import Decimal

    from etl_generator_demo_spark.sources.txlog import StatsTxTable, TxTable

    ddl = "k long, d decimal(10,2)"
    df = spark.createDataFrame([(1, Decimal("9.50")), (2, Decimal("9.80"))], ddl)

    # Defense 1: the collector records nothing for decimal (pyarrow
    # cannot decode its stats) -> conservative read, never a skip.
    path1 = str(tmp_path / "t1")
    tab1 = StatsTxTable(spark, path1, stat_cols=["d"])
    files = tab1._write_data_files(df)
    assert all(not s for s in tab1._pending_stats.values())
    assert tab1._try_commit(
        0,
        tab1._build_manifest(
            "create", add=files, remove=[],
            base_state={"schema_ddl": ddl, "txns": {}}, read_version=None,
        ),
    )
    out, files_read, files_total = tab1.read_range(
        "d", Decimal("9.0"), Decimal("10.2")
    )
    assert files_read == files_total
    assert out.count() == 2

    # Defense 2: a decimal stat that IS present (string-encoded, as
    # _json_safe stores it) decodes back to Decimal. Stat interval
    # ['9.50','9.80'] vs bounds [9.6, 10.5]: lexicographically
    # '9.50' > '10.5' so a string compare would SKIP the file and
    # silently lose the 9.80 row; the numeric compare reads it.
    class _InjectedStats(StatsTxTable):
        def _write_data_files(self, d):
            names = TxTable._write_data_files(self, d)
            self._pending_stats = {n: {"d": ["9.50", "9.80"]} for n in names}
            return names

    path2 = str(tmp_path / "t2")
    tab2 = _InjectedStats(spark, path2, stat_cols=["d"])
    files = tab2._write_data_files(df)
    assert tab2._try_commit(
        0,
        tab2._build_manifest(
            "create", add=files, remove=[],
            base_state={"schema_ddl": ddl, "txns": {}}, read_version=None,
        ),
    )
    out, files_read, files_total = tab2.read_range(
        "d", Decimal("9.6"), Decimal("10.5")
    )
    assert files_read == files_total  # numeric intersect: must read
    assert out.count() == 1  # the 9.80 row — no silent loss
    # and a numerically disjoint range skips even though the string
    # compare would NOT ('9.80' > '10.0' lexicographically)
    _, fr2, _ = tab2.read_range("d", Decimal("10.0"), Decimal("10.2"))
    assert fr2 == 0


def test_read_range_binary_stats_conservative(spark, tmp_path):
    """Bytes stats JSON-decode lossily (not order-safe): the codec
    refuses them and every file is read — a superset, never a loss."""
    from etl_generator_demo_spark.sources.txlog import StatsTxTable

    path = str(tmp_path / "t")
    tab = StatsTxTable(spark, path, stat_cols=["b"])
    df = spark.createDataFrame(
        [(1, bytearray(b"\xffhi")), (2, bytearray(b"\x00lo"))], "k long, b binary"
    )
    files = tab._write_data_files(df)
    assert tab._try_commit(
        0,
        tab._build_manifest(
            "create",
            add=files,
            remove=[],
            base_state={"schema_ddl": "k long, b binary", "txns": {}},
            read_version=None,
        ),
    )
    out, files_read, files_total = tab.read_range("b", b"\x00", b"\xff~")
    assert files_read == files_total  # conservative: binary stats unusable
    assert out.count() == 2


def test_read_range_date_stats_prune_correctly(spark, tmp_path):
    """Date stats round-trip as ISO strings (lexicographic ==
    chronological); the caller's date bounds are coerced to the same
    key — disjoint ranges skip, overlapping ranges read."""
    import datetime

    from etl_generator_demo_spark.sources.txlog import StatsTxTable

    path = str(tmp_path / "t")
    tab = StatsTxTable(spark, path, stat_cols=["dt"])
    df = spark.createDataFrame(
        [(1, datetime.date(2024, 3, 1)), (2, datetime.date(2024, 3, 20))],
        "k long, dt date",
    ).coalesce(1)  # one data file (empty part files carry no stats)
    files = tab._write_data_files(df)
    assert tab._try_commit(
        0,
        tab._build_manifest(
            "create",
            add=files,
            remove=[],
            base_state={"schema_ddl": "k long, dt date", "txns": {}},
            read_version=None,
        ),
    )
    out, fr, _ = tab.read_range(
        "dt", datetime.date(2024, 3, 10), datetime.date(2024, 4, 1)
    )
    assert fr == 1 and out.count() == 1
    _, fr2, _ = tab.read_range(
        "dt", datetime.date(2025, 1, 1), datetime.date(2025, 2, 1)
    )
    assert fr2 == 0


def test_registered_exactly_once_query_structure(spark, sf_dir):
    """st_txlog_exactly_once: 4 batch rows, final_version pinned at 4
    (create + 4 appends — replays absorbed), and the scratch table is
    gone (values hash-pinned by DuckDB in the oracle gate)."""
    import glob

    from etl_generator_demo_spark.sources.txlog import st_txlog_exactly_once

    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "txlog_eo_*")))
    rows = st_txlog_exactly_once(spark, sf_dir).collect()
    assert [r["batch_id"] for r in rows] == [0, 1, 2, 3]
    assert all(r["final_version"] == 4 for r in rows)
    assert all(r["n_rows"] > 0 for r in rows)
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "txlog_eo_*")))
    assert after <= before  # no new scratch table left behind


def test_time_travel_query_cleans_up_scratch(spark, sf_dir):
    """The r14 advice's /tmp-growth fix: after the registered query
    returns (rows already materialized), no txlog_q_* scratch table
    remains under $TMPDIR."""
    import glob

    from etl_generator_demo_spark.sources.txlog import d_txlog_time_travel

    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "txlog_q_*")))
    rows = d_txlog_time_travel(spark, sf_dir).collect()
    assert [r["op"] for r in rows] == ["create", "append", "delete", "update", "merge"]
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "txlog_q_*")))
    assert after <= before  # no new scratch table left behind


def test_registered_file_skipping_query_structure(spark, sf_dir):
    """d_txlog_file_skipping: one row, 8-file clustered layout, and
    the stats prune actually skipped files (values hash-pinned by
    DuckDB in the oracle gate)."""
    import glob

    from etl_generator_demo_spark.sources.txlog import d_txlog_file_skipping

    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "txlog_fs_*")))
    (row,) = d_txlog_file_skipping(spark, sf_dir).collect()
    assert row["files_total"] == 8
    assert row["skipped_some"] is True
    assert row["n_rows"] > 0
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "txlog_fs_*")))
    assert after <= before


# --- round 15: metadata-only schema evolution -------------------------------


def test_add_columns_metadata_only_null_fill(spark, tmp_path):
    """ADD COLUMNS touches no data file; pre-evolution files read the
    new column as NULL; post-evolution appends carry values; time
    travel to the pre-evolution version sees the OLD schema."""
    tab = _mk(spark, tmp_path)  # k, v — 10 rows
    files_before = tab.snapshot()["files"]
    v = tab.add_columns({"w": "double"})
    assert tab.snapshot(v)["files"] == files_before  # no data rewrite
    assert tab.read().columns == ["k", "v", "w"]
    assert tab.read().filter("w IS NULL").count() == 10
    assert tab.read(version=0).columns == ["k", "v"]  # old schema via travel
    tab.append(
        spark.createDataFrame([(100, 1, 2.5)], "k long, v long, w double")
    )
    got = {r["k"]: r["w"] for r in tab.read().collect()}
    assert got[100] == 2.5 and got[0] is None
    # NULL-fill update works on pre-evolution rows
    tab.update({"w": "7.5"}, "k = 3")
    got = {r["k"]: r["w"] for r in tab.read().collect()}
    assert got[3] == 7.5 and got[0] is None


def test_add_columns_duplicate_rejected(spark, tmp_path):
    tab = _mk(spark, tmp_path)
    with pytest.raises(ValueError):
        tab.add_columns({"v": "double"})


def test_evolved_schema_survives_checkpoint(spark, tmp_path):
    """The evolved schema crosses the checkpoint boundary (schema is
    snapshot state), and merge against the evolved schema works."""
    tab = _mk(spark, tmp_path, rows=[(0, 0)])
    tab.add_columns({"w": "double"})
    for i in range(TxTable.CHECKPOINT_INTERVAL + 1):
        tab.append(
            spark.createDataFrame([(10 + i, i, float(i))], "k long, v long, w double")
        )
    assert tab._checkpoint_versions()
    assert tab.read().columns == ["k", "v", "w"]
    tab.merge(
        spark.createDataFrame([(0, 99, 9.5)], "k long, v long, w double"), ["k"]
    )
    got = {r["k"]: (r["v"], r["w"]) for r in tab.read().collect()}
    assert got[0] == (99, 9.5)


def test_registered_schema_evolution_query_structure(spark, sf_dir):
    import glob

    from etl_generator_demo_spark.sources.txlog import d_txlog_schema_evolution

    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "txlog_se_*")))
    rows = d_txlog_schema_evolution(spark, sf_dir).collect()
    assert [r["op"] for r in rows] == ["create", "add_columns", "append", "update"]
    assert rows[0]["n_discount"] == 0 and rows[1]["n_discount"] == 0
    assert rows[2]["n_discount"] > 0
    assert rows[3]["n_discount"] > rows[2]["n_discount"]  # update filled NULLs
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "txlog_se_*")))
    assert after <= before


def test_add_columns_invalid_type_rejected_before_commit(spark, tmp_path):
    """A typo'd type or a malformed name must fail BEFORE commit —
    otherwise schema_ddl is corrupted and every later read throws far
    from the cause (r15 review finding)."""
    tab = _mk(spark, tmp_path)
    with pytest.raises(ValueError):
        tab.add_columns({"x": "dobule"})
    with pytest.raises(ValueError):
        tab.add_columns({"x, y": "double"})
    assert tab.latest_version() == 0  # nothing committed
    assert tab.read().columns == ["k", "v"]


def test_txn_replay_skips_data_write(spark, tmp_path):
    """A replayed txn_append must not write any data files (r15 review
    finding: the pre-write high-water check)."""
    from etl_generator_demo_spark.sources.txlog import txn_append

    tab = _mk(spark, tmp_path, rows=[(0, 0)])
    df = spark.createDataFrame([(1, 1)], "k long, v long")
    txn_append(tab, df, "app", 1)
    n_files_before = len(os.listdir(tab.data_dir))
    assert txn_append(tab, df, "app", 1) is None
    assert len(os.listdir(tab.data_dir)) == n_files_before  # no garbage


def test_legacy_full_list_manifest_fails_loudly(spark, tmp_path):
    """A round-14-format manifest (full 'files' list, no deltas) must
    raise, not silently resolve to an empty table that vacuum would
    then destroy (r15 review finding)."""
    import json as _json

    tab = _mk(spark, tmp_path)
    m = tab._read_manifest(0)
    legacy = {"op": "create", "files": m["add"], "schema_ddl": m["schema_ddl"]}
    with open(tab._manifest_path(0), "w") as fh:
        _json.dump(legacy, fh)
    with pytest.raises(ValueError, match="legacy"):
        tab.read()


def test_read_range_pins_evolved_schema(spark, tmp_path):
    """read_range over a schema-evolved table must surface the added
    column deterministically (r15 review finding: footer inference
    could drop it when sampling a pre-evolution file)."""
    from etl_generator_demo_spark.sources.txlog import StatsTxTable

    path = str(tmp_path / "t")
    StatsTxTable.create(
        spark, path, spark.createDataFrame([(k, k) for k in range(50)], "k long, v long")
    )
    tab = StatsTxTable(spark, path, stat_cols=["k"])
    tab.add_columns({"w": "double"})
    tab.append(
        spark.createDataFrame([(100, 1, 2.5)], "k long, v long, w double")
    )
    out, _, _ = tab.read_range("k", 0, 200)
    assert out.columns == ["k", "v", "w"]
    got = {r["k"]: r["w"] for r in out.collect()}
    assert got[100] == 2.5 and got[0] is None


# --- round 15: incremental (streaming-source) reads of the log --------------


def test_read_increment_per_commit(spark, tmp_path):
    """Each commit's increment is exactly its added rows; the union of
    increments reconstructs the snapshot; a rewrite commit raises
    unless allow_changes (Delta streaming-source semantics)."""
    from etl_generator_demo_spark.sources.txlog import read_increment

    tab = _mk(spark, tmp_path)  # v0: k in 0..9
    tab.append(spark.createDataFrame([(20, 1), (21, 1)], "k long, v long"))
    tab.append(spark.createDataFrame([(30, 2)], "k long, v long"))
    assert sorted(r["k"] for r in read_increment(tab, 0).collect()) == list(range(10))
    assert sorted(r["k"] for r in read_increment(tab, 1).collect()) == [20, 21]
    assert read_increment(tab, 2).count() == 1
    total = sum(read_increment(tab, v).count() for v in range(3))
    assert total == tab.read().count()
    tab.delete("k = 30")  # v3: a rewrite
    with pytest.raises(ValueError, match="rewrites files"):
        read_increment(tab, 3)
    # the escape hatch yields only the rewrite's additions
    assert read_increment(tab, 3, allow_changes=True).count() == tab.read().count()


def test_registered_incremental_read_structure(spark, sf_dir):
    import glob

    from etl_generator_demo_spark.sources.txlog import st_txlog_incremental_read

    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "txlog_ir_*")))
    rows = st_txlog_incremental_read(spark, sf_dir).collect()
    assert [r["version"] for r in rows] == [0, 1, 2, 3]
    assert all(r["n_rows"] > 0 for r in rows)
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "txlog_ir_*")))
    assert after <= before


def test_concurrent_appends_across_checkpoint_boundary(spark, tmp_path):
    """Unsynchronized writers racing THROUGH a checkpoint boundary:
    versions stay dense, no rows are lost, the boundary checkpoint
    exists, and post-boundary snapshots resolve identically through
    the checkpoint and through a pure-delta replay."""
    interval = TxTable.CHECKPOINT_INTERVAL
    tab = _mk(spark, tmp_path, rows=[(0, 0)])
    # advance to just below the boundary, then race 6 writers past it
    for i in range(1, interval - 2):
        tab.append(spark.createDataFrame([(i, i)], "k long, v long"))
    errs = []

    def writer(i):
        try:
            TxTable(spark, str(tmp_path / "t")).append(
                spark.createDataFrame([(1000 + i, i)], "k long, v long")
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(i,)) for i in range(6)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert tab.latest_version() == interval + 3  # dense through the boundary
    assert tab._checkpoint_versions() == [interval]
    assert tab.read().count() == 1 + (interval - 3) + 6  # no lost rows
    # checkpoint-resolved state == pure-delta ground truth at latest
    state: dict[str, None] = {}
    for w in range(tab.latest_version() + 1):
        m = tab._read_manifest(w)
        for f in m.get("remove", ()):
            state.pop(f, None)
        for f in m.get("add", ()):
            state.setdefault(f, None)
    assert tab.snapshot()["files"] == list(state)


# ---------------------------------------------------------------------------
# round 16: advice fixes
# ---------------------------------------------------------------------------


def test_add_columns_duplicate_case_insensitive(spark, tmp_path):
    """Spark's default analyzer resolves columns case-insensitively,
    so add_columns({'V': ...}) on a table with 'v' must reject — a
    commit would make every later reference to v ambiguous (r15
    advice: the old check compared case-sensitively and let it
    through)."""
    tab = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="already exist"):
        tab.add_columns({"V": "double"})
    with pytest.raises(ValueError, match="already exist"):
        tab.add_columns({"K": "double", "fresh": "double"})
    # nothing committed by the failed attempts
    assert tab.latest_version() == 0


def test_history_rejects_legacy_manifest(spark, tmp_path):
    """history() on a legacy full-file-list manifest fails loudly like
    _snapshot does, instead of reporting a table of 0-add/0-remove
    commits (r15 advice)."""
    import json as _json

    tab = _mk(spark, tmp_path)
    m = tab._read_manifest(0)
    legacy = {"op": "create", "files": m["add"], "schema_ddl": m["schema_ddl"]}
    with open(tab._manifest_path(0), "w") as fh:
        _json.dump(legacy, fh)
    with pytest.raises(ValueError, match="legacy"):
        tab.history()


def test_checkpoint_write_failure_warns_but_commit_survives(
    spark, tmp_path, monkeypatch
):
    """A checkpoint-write failure at the boundary emits a RuntimeWarning
    (r15 advice: a persistent _write_checkpoint bug was silently
    degrading readers to full-log replay) while the commit itself stays
    durable and readable."""
    tab = _mk(spark, tmp_path, rows=[(0, 0)])

    def boom(version):
        raise OSError("disk full")

    monkeypatch.setattr(tab, "_write_checkpoint", boom)
    interval = TxTable.CHECKPOINT_INTERVAL
    for i in range(1, interval):
        tab.append(spark.createDataFrame([(i, i)], "k long, v long"))
    with pytest.warns(RuntimeWarning, match="checkpoint write failed"):
        v = tab.append(
            spark.createDataFrame([(interval, interval)], "k long, v long")
        )
    assert v == interval  # the boundary commit landed despite the failure
    assert tab._checkpoint_versions() == []  # no checkpoint materialized
    assert tab.read().count() == interval + 1  # full-log replay still correct


def test_read_increment_does_not_resolve_snapshots(spark, tmp_path, monkeypatch):
    """Tailing the log is O(that commit's files): read_increment takes
    the schema from the commit's own manifest and must NOT resolve a
    full snapshot per version (r15 advice: the old spelling paid a
    checkpoint load + tail replay per batch)."""
    from etl_generator_demo_spark.sources.txlog import read_increment

    tab = _mk(spark, tmp_path)
    tab.append(spark.createDataFrame([(20, 1), (21, 1)], "k long, v long"))
    tab.add_columns({"w": "double"})
    tab.append(
        spark.createDataFrame([(30, 1, 1.5)], "k long, v long, w double")
    )

    def no_snapshot(version):  # pragma: no cover - failure path
        raise AssertionError("read_increment resolved a snapshot")

    monkeypatch.setattr(tab, "_snapshot", no_snapshot)
    assert sorted(r["k"] for r in read_increment(tab, 1).collect()) == [20, 21]
    # post-evolution increment carries the evolved schema from ITS manifest
    inc3 = read_increment(tab, 3)
    assert "w" in inc3.columns
    assert inc3.count() == 1
    # metadata-only commit yields an empty increment with the new schema
    inc2 = read_increment(tab, 2)
    assert inc2.count() == 0 and "w" in inc2.columns


# ---------------------------------------------------------------------------
# round 16: file-disjoint concurrent commits (WriteSerializable)
# ---------------------------------------------------------------------------


def _clustered(spark, tmp_path, n=80, files=8):
    """A StatsTxTable clustered into `files` k-ranges with zone maps."""
    from etl_generator_demo_spark.sources.txlog import (
        StatsTxTable,
        optimize_txtable_clustered,
    )

    df = spark.createDataFrame([(k, k * 10) for k in range(n)], "k long, v long")
    StatsTxTable.create(spark, str(tmp_path / "t"), df)
    tab = StatsTxTable(spark, str(tmp_path / "t"), stat_cols=["k"])
    optimize_txtable_clustered(tab, ["k"], target_files=files)
    return tab


def _count_writes(monkeypatch, tab):
    """Count _write_data_files calls (1 per transform execution)."""
    n = {"writes": 0}
    orig = tab._write_data_files

    def counting(df):
        n["writes"] += 1
        return orig(df)

    monkeypatch.setattr(tab, "_write_data_files", counting)
    return n


def _inject_before_first_claim(monkeypatch, tab, interfere):
    """Deterministic race: run `interfere()` (a competing commit via a
    separate handle) just before `tab`'s FIRST _try_commit, so that
    claim loses and the retry path runs."""
    orig = tab._try_commit
    state = {"fired": False}

    def racing(version, manifest):
        if not state["fired"]:
            state["fired"] = True
            interfere()
        return orig(version, manifest)

    monkeypatch.setattr(tab, "_try_commit", racing)


def test_disjoint_range_updates_commute_without_reexecution(
    spark, tmp_path, monkeypatch
):
    """Two updates on provably disjoint key ranges of a clustered table
    must BOTH commit, and the race loser must NOT re-execute its
    transform — file-level read/write sets are disjoint, so the
    WriteSerializable check re-claims the same files (r15 verdict
    item 4: Delta commutes disjoint operations; blanket re-execution
    was the r14/r15 behavior)."""
    from etl_generator_demo_spark.sources.txlog import StatsTxTable

    tab = _clustered(spark, tmp_path)
    writes = _count_writes(monkeypatch, tab)
    other = StatsTxTable(spark, str(tmp_path / "t"), stat_cols=["k"])
    _inject_before_first_claim(
        monkeypatch, tab, lambda: other.update_range("k", 0, 9, {"v": "v + 1"})
    )
    v = tab.update_range("k", 70, 79, {"v": "v + 2"})
    assert v == 3  # create, optimize, interferer, ours — dense
    assert writes["writes"] == 1  # commuted: no transform re-execution
    got = {r["k"]: r["v"] for r in tab.read().collect()}
    assert got[0] == 1 and got[5] == 51  # interferer applied
    assert got[70] == 702 and got[79] == 792  # ours applied
    assert got[40] == 400  # untouched middle


def test_overlapping_range_updates_serialize_and_reexecute(
    spark, tmp_path, monkeypatch
):
    """Overlapping ranges share files: the loser must detect the
    conflict and re-execute against the fresh snapshot — both
    increments apply (no lost update), at the cost of one rewrite."""
    from etl_generator_demo_spark.sources.txlog import StatsTxTable

    tab = _clustered(spark, tmp_path)
    writes = _count_writes(monkeypatch, tab)
    other = StatsTxTable(spark, str(tmp_path / "t"), stat_cols=["k"])
    _inject_before_first_claim(
        monkeypatch, tab, lambda: other.update_range("k", 0, 19, {"v": "v + 1"})
    )
    tab.update_range("k", 10, 29, {"v": "v * 2"})
    assert writes["writes"] == 2  # conflict: transform re-executed
    got = {r["k"]: r["v"] for r in tab.read().collect()}
    assert got[5] == 51  # only interferer
    assert got[15] == (151) * 2  # both, serialized: (+1) then (*2)
    assert got[25] == 500  # only ours


def test_optimize_commutes_with_concurrent_append(spark, tmp_path, monkeypatch):
    """OPTIMIZE racing an append: the appended file is not in the
    compaction's read set, so the loser re-claims without
    re-compacting and the appended rows SURVIVE the compaction
    commit."""
    from etl_generator_demo_spark.sources.txlog import TxTable, optimize_txtable

    tab = _mk(spark, tmp_path)  # 10 rows
    writes = _count_writes(monkeypatch, tab)
    other = TxTable(spark, str(tmp_path / "t"))
    _inject_before_first_claim(
        monkeypatch,
        tab,
        lambda: other.append(
            spark.createDataFrame([(100, 1), (101, 1)], "k long, v long")
        ),
    )
    optimize_txtable(tab, target_files=1)
    assert writes["writes"] == 1  # no re-compaction
    assert tab.read().count() == 12  # appended rows survive
    assert sorted(r["k"] for r in tab.read().collect())[-2:] == [100, 101]
    ops = [h["op"] for h in tab.history()]
    assert ops == ["create", "append", "optimize"]


def test_full_update_commutes_with_append_writeserializable(
    spark, tmp_path, monkeypatch
):
    """A full-table UPDATE racing a blind append commits without
    re-execution (WriteSerializable: the update does not see the
    concurrent append), and the appended rows survive un-updated —
    Delta's documented update-vs-append semantics."""
    from etl_generator_demo_spark.sources.txlog import TxTable

    tab = _mk(spark, tmp_path)
    writes = _count_writes(monkeypatch, tab)
    other = TxTable(spark, str(tmp_path / "t"))
    _inject_before_first_claim(
        monkeypatch,
        tab,
        lambda: other.append(spark.createDataFrame([(100, 7)], "k long, v long")),
    )
    tab.update({"v": "v + 1"}, "k >= 0")
    assert writes["writes"] == 1
    got = {r["k"]: r["v"] for r in tab.read().collect()}
    assert got[0] == 1 and got[9] == 91  # update applied to read set
    assert got[100] == 7  # appended row survives, not updated


def test_schema_change_interleave_forces_reexecution(spark, tmp_path, monkeypatch):
    """An interleaved ADD COLUMNS is a metadata conflict: the loser
    must re-execute so its rewritten files carry the new schema."""
    from etl_generator_demo_spark.sources.txlog import TxTable

    tab = _mk(spark, tmp_path)
    writes = _count_writes(monkeypatch, tab)
    other = TxTable(spark, str(tmp_path / "t"))
    _inject_before_first_claim(
        monkeypatch, tab, lambda: other.add_columns({"w": "double"})
    )
    tab.update({"v": "v + 1"}, "k >= 0")
    assert writes["writes"] == 2  # re-executed under the evolved schema
    snap = tab.read()
    assert "w" in snap.columns
    assert snap.filter(F.col("v") != F.col("k") * 10 + 1).count() == 0


def test_threaded_disjoint_range_updates_all_commit(spark, tmp_path):
    """4 unsynchronized writers on 4 disjoint ranges: all commit,
    versions dense, every increment applied exactly once."""
    from etl_generator_demo_spark.sources.txlog import StatsTxTable

    tab = _clustered(spark, tmp_path)
    errs = []

    def writer(i):
        try:
            StatsTxTable(spark, str(tmp_path / "t"), stat_cols=["k"]).update_range(
                "k", i * 20, i * 20 + 19, {"v": f"v + {i + 1}"}
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert tab.latest_version() == 5  # create + optimize + 4 updates
    got = {r["k"]: r["v"] for r in tab.read().collect()}
    assert len(got) == 80
    for k, v in got.items():
        assert v == k * 10 + (k // 20) + 1


def test_update_range_touches_only_intersecting_files(spark, tmp_path):
    """The scoped update's manifest must remove only the zone-map-
    intersecting files — the property that gives disjoint writers
    disjoint write sets (8 clustered files, a one-range update should
    rewrite ~1 of them, and rows outside the range in a touched file
    survive unchanged)."""
    tab = _clustered(spark, tmp_path)  # 80 rows, 8 k-ranges
    n_files_before = len(tab.snapshot()["files"])
    v = tab.update_range("k", 0, 9, {"v": "v + 1"})
    m = tab._read_manifest(v)
    assert 1 <= len(m["remove"]) <= 2  # only the intersecting slice(s)
    assert len(m["remove"]) < n_files_before
    got = {r["k"]: r["v"] for r in tab.read().collect()}
    assert all(got[k] == k * 10 + 1 for k in range(0, 10))
    assert all(got[k] == k * 10 for k in range(10, 80))
