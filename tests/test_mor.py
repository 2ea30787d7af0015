"""Merge-on-read compaction scenarios (FIXTURES.md §B4).

Each scenario synthesizes data/delete Parquet files, runs the MoR plan,
and checks results against a DuckDB oracle computing the same anti-join
SQL.  Mirrors the reference's SQL-generation tests
(core/src/executor/datafusion/datafusion_processor.rs:563-815) at the
results level rather than the SQL-string level.
"""

from __future__ import annotations

import os

import duckdb
import pyspark.sql.functions as F
import pytest

from ic_spark.compaction import (
    Compaction,
    FileScanTask,
    ManifestTable,
    RewriteFilesRequest,
    build_merge_on_read,
    rewrite_files,
)
from ic_spark.compaction.request import (
    FileContent,
    split_equality_delete_groups,
)

from tests.conftest import normalize


def spark_uri(path: str) -> str:
    """The exact string _metadata.file_path yields for a local file."""
    return "file:" + os.path.abspath(path)


def write_parquet(spark, path: str, rows, schema: str) -> str:
    """Write a SINGLE parquet file; returns the file path (not the dir).

    coalesce(1) keeps row order == input order so _metadata.row_index is
    predictable for position-delete fixtures.
    """
    df = spark.createDataFrame(rows, schema=schema)
    df.coalesce(1).write.mode("overwrite").parquet(path)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 1
    return os.path.join(path, files[0])


@pytest.fixture(scope="module")
def mor_files(spark, tmp_path_factory):
    """B1/B2/B3 fixture family: 3 data files (seq 1,2,3), pos deletes,
    two equality-delete groups with different id-lists."""
    base = tmp_path_factory.mktemp("mor")
    d = {}
    # Data files: (id, name, dec, ts, tags); seq 1..3; ids don't overlap.
    d["data1"] = write_parquet(
        spark,
        str(base / "data1"),
        [(i, f"n{i}", float(i), ["a", "b"]) for i in range(0, 10)],
        "id int, name string, dec double, tags array<string>",
    )
    d["data2"] = write_parquet(
        spark,
        str(base / "data2"),
        [(i, f"n{i}", float(i), ["c"]) for i in range(10, 20)],
        "id int, name string, dec double, tags array<string>",
    )
    d["data3"] = write_parquet(
        spark,
        str(base / "data3"),
        [(i, f"n{i}", float(i), []) for i in range(20, 30)],
        "id int, name string, dec double, tags array<string>",
    )
    # Position deletes: rows 0,1 of data1 and row 5 of data2.
    d["pos1"] = write_parquet(
        spark,
        str(base / "pos1"),
        [
            (spark_uri(d["data1"]), 0),
            (spark_uri(d["data1"]), 1),
            (spark_uri(d["data2"]), 5),
        ],
        "sys_hidden_file_path string, sys_hidden_pos long",
    )
    # Equality deletes group A (ids=[id]), seq 2: deletes id 5 (seq1 data
    # only — data2 has seq 2, strict <), id 15 (no effect: same seq).
    d["eq_a"] = write_parquet(
        spark,
        str(base / "eq_a"),
        [(5,), (15,)],
        "id int",
    )
    # Equality deletes group B (ids=[id, name]), seq 4: deletes (20,'n20').
    d["eq_b"] = write_parquet(
        spark,
        str(base / "eq_b"),
        [(20, "n20"), (21, "nope")],
        "id int, name string",
    )
    d["base"] = str(base)
    return d


def data_tasks(d):
    return [
        FileScanTask(d["data1"], sequence_number=1),
        FileScanTask(d["data2"], sequence_number=2),
        FileScanTask(d["data3"], sequence_number=3),
    ]


def user_schema(spark, d):
    return spark.read.parquet(d["data1"]).schema


def collected_ids(df):
    return sorted(r.id for r in df.select("id").collect())


def test_no_deletes_plain_rewrite(spark, mor_files):
    """B4.1 — no deletes: plain rewrite passes all rows through."""
    req = RewriteFilesRequest(schema=user_schema(spark, mor_files), data_files=data_tasks(mor_files))
    df = build_merge_on_read(spark, req)
    assert collected_ids(df) == list(range(30))
    assert df.columns == ["id", "name", "dec", "tags"]  # no hidden leakage


def test_position_deletes_only(spark, mor_files):
    """B4.2 — (file_path, pos) anti-join removes exactly the named rows."""
    req = RewriteFilesRequest(
        schema=user_schema(spark, mor_files),
        data_files=data_tasks(mor_files),
        position_delete_files=[FileScanTask(mor_files["pos1"], content=FileContent.POSITION_DELETES)],
    )
    df = build_merge_on_read(spark, req)
    assert collected_ids(df) == sorted(set(range(30)) - {0, 1, 15})
    assert df.columns == ["id", "name", "dec", "tags"]


def test_equality_deletes_strict_seq(spark, mor_files):
    """B4.3 + B4.4 — eq delete applies only to strictly older sequence
    numbers: seq-2 delete of id=5 removes it (data seq 1), but id=15
    (data seq 2, same seq) is KEPT."""
    req = RewriteFilesRequest(
        schema=user_schema(spark, mor_files),
        data_files=data_tasks(mor_files),
        equality_delete_files=[
            FileScanTask(
                mor_files["eq_a"],
                sequence_number=2,
                content=FileContent.EQUALITY_DELETES,
                equality_ids=("id",),
            )
        ],
    )
    df = build_merge_on_read(spark, req)
    ids = collected_ids(df)
    assert 5 not in ids  # deleted: data seq 1 < delete seq 2
    assert 15 in ids  # kept: data seq 2 == delete seq 2 (strict <)
    assert ids == sorted(set(range(30)) - {5})


def test_both_delete_kinds(spark, mor_files):
    """B4.5 — position + equality deletes compose."""
    req = RewriteFilesRequest(
        schema=user_schema(spark, mor_files),
        data_files=data_tasks(mor_files),
        position_delete_files=[FileScanTask(mor_files["pos1"], content=FileContent.POSITION_DELETES)],
        equality_delete_files=[
            FileScanTask(
                mor_files["eq_a"],
                sequence_number=2,
                content=FileContent.EQUALITY_DELETES,
                equality_ids=("id",),
            )
        ],
    )
    df = build_merge_on_read(spark, req)
    assert collected_ids(df) == sorted(set(range(30)) - {0, 1, 5, 15})


def test_two_equality_groups_interleaved(spark, mor_files):
    """B4.6 — id-list change along the task list opens a new delete
    table; both groups apply with their own seq guards."""
    eq_tasks = [
        FileScanTask(
            mor_files["eq_a"],
            sequence_number=2,
            content=FileContent.EQUALITY_DELETES,
            equality_ids=("id",),
        ),
        FileScanTask(
            mor_files["eq_b"],
            sequence_number=4,
            content=FileContent.EQUALITY_DELETES,
            equality_ids=("id", "name"),
        ),
    ]
    groups = split_equality_delete_groups(eq_tasks)
    assert [g.equality_ids for g in groups] == [("id",), ("id", "name")]

    req = RewriteFilesRequest(
        schema=user_schema(spark, mor_files),
        data_files=data_tasks(mor_files),
        equality_delete_files=eq_tasks,
    )
    df = build_merge_on_read(spark, req)
    ids = collected_ids(df)
    # group A: id=5 deleted; group B: (20,'n20') deleted (seq 3 < 4);
    # (21,'nope') matches no row on (id,name).
    assert ids == sorted(set(range(30)) - {5, 20})
    assert 21 in ids


def test_group_splitting_order_sensitive():
    """Reference :376-400 — identical id-list reappearing later forms a
    NEW group, not a merge with the earlier one."""
    t = lambda ids: FileScanTask(
        "x", content=FileContent.EQUALITY_DELETES, equality_ids=ids
    )
    groups = split_equality_delete_groups([t(("a",)), t(("a", "b")), t(("a",))])
    assert [g.equality_ids for g in groups] == [("a",), ("a", "b"), ("a",)]
    assert [len(g.tasks) for g in groups] == [1, 1, 1]


def test_mor_against_duckdb_oracle(spark, mor_files):
    """Full scenario hash-checked against DuckDB running the reference's
    generated SQL shape directly (LEFT ANTI JOIN chain)."""
    req = RewriteFilesRequest(
        schema=user_schema(spark, mor_files),
        data_files=data_tasks(mor_files),
        position_delete_files=[FileScanTask(mor_files["pos1"], content=FileContent.POSITION_DELETES)],
        equality_delete_files=[
            FileScanTask(
                mor_files["eq_a"],
                sequence_number=2,
                content=FileContent.EQUALITY_DELETES,
                equality_ids=("id",),
            ),
            FileScanTask(
                mor_files["eq_b"],
                sequence_number=4,
                content=FileContent.EQUALITY_DELETES,
                equality_ids=("id", "name"),
            ),
        ],
    )
    df = build_merge_on_read(spark, req).select("id", "name", "dec")

    con = duckdb.connect()
    oracle_sql = f"""
    WITH data AS (
        SELECT *, 1 AS seq, filename AS fp, file_row_number AS pos
        FROM read_parquet('{mor_files["data1"]}', filename=true, file_row_number=true)
        UNION ALL
        SELECT *, 2, filename, file_row_number
        FROM read_parquet('{mor_files["data2"]}', filename=true, file_row_number=true)
        UNION ALL
        SELECT *, 3, filename, file_row_number
        FROM read_parquet('{mor_files["data3"]}', filename=true, file_row_number=true)
    ),
    pos_del AS (
        SELECT replace(sys_hidden_file_path, 'file:', '') AS fp, sys_hidden_pos AS pos
        FROM read_parquet('{mor_files["pos1"]}')
    ),
    eq_a AS (SELECT id, 2 AS seq FROM read_parquet('{mor_files["eq_a"]}')),
    eq_b AS (SELECT id, name, 4 AS seq FROM read_parquet('{mor_files["eq_b"]}'))
    SELECT d.id, d.name, d.dec FROM data d
    ANTI JOIN pos_del p ON d.fp = p.fp AND d.pos = p.pos
    ANTI JOIN eq_a a ON d.id = a.id AND d.seq < a.seq
    ANTI JOIN eq_b b ON d.id = b.id AND d.name = b.name AND d.seq < b.seq
    """
    oracle_rows = con.sql(oracle_sql).fetchall()
    spark_rows = [(r.id, r.name, r.dec) for r in df.collect()]
    assert normalize(spark_rows) == normalize(oracle_rows)
    con.close()


def test_full_compact_and_expire(spark, mor_files, tmp_path):
    """End-to-end orchestration (reference mod.rs:43-88): manifest table
    → full_compact → single compacted snapshot → expire."""
    table = ManifestTable(str(tmp_path / "tbl"))
    table.append_snapshot(
        [
            {"path": mor_files["data1"], "sequence_number": 1, "content": "DATA"},
            {"path": mor_files["data2"], "sequence_number": 2, "content": "DATA"},
            {"path": mor_files["data3"], "sequence_number": 3, "content": "DATA"},
            {"path": mor_files["pos1"], "content": "POSITION_DELETES"},
            {
                "path": mor_files["eq_a"],
                "sequence_number": 2,
                "content": "EQUALITY_DELETES",
                "equality_ids": ["id"],
            },
        ]
    )
    comp = Compaction(spark)
    resp = comp.full_compact(table, user_schema(spark, mor_files), target_partitions=2)
    assert resp.stat.rewritten_files_count == 5
    assert resp.stat.added_files_count >= 1

    # Post-compaction snapshot has only DATA files; reading them gives
    # exactly the MoR result.
    data, pos, eq = table.scan_tasks()
    assert pos == [] and eq == []
    out = spark.read.parquet(*[t.data_file_path for t in data])
    assert sorted(r.id for r in out.collect()) == sorted(set(range(30)) - {0, 1, 5, 15})

    # Determinism (B4.8): second compaction of the same inputs yields the
    # same row multiset.
    orphans = comp.expire_snapshot(table)
    assert mor_files["pos1"] in orphans


def test_deterministic_rewrite(spark, mor_files, tmp_path):
    """B4.8 — same inputs → identical output content (two runs)."""
    req = lambda i: RewriteFilesRequest(
        schema=user_schema(spark, mor_files),
        data_files=data_tasks(mor_files),
        position_delete_files=[FileScanTask(mor_files["pos1"], content=FileContent.POSITION_DELETES)],
        dir_path=str(tmp_path / f"out{i}"),
        target_partitions=2,
    )
    r1 = rewrite_files(spark, req(1))
    r2 = rewrite_files(spark, req(2))
    df1 = spark.read.parquet(str(tmp_path / "out1"))
    df2 = spark.read.parquet(str(tmp_path / "out2"))
    rows1 = normalize([tuple(r) for r in df1.select("id", "name", "dec").collect()])
    rows2 = normalize([tuple(r) for r in df2.select("id", "name", "dec").collect()])
    assert rows1 == rows2
    assert r1.stat.added_files_count == r2.stat.added_files_count


def test_partitioned_fanout_write(spark, mor_files, tmp_path):
    """B4.7 — partitioned rewrite routes rows to partition dirs."""
    schema = user_schema(spark, mor_files)
    req = RewriteFilesRequest(
        schema=schema,
        data_files=data_tasks(mor_files),
        dir_path=str(tmp_path / "part_out"),
        partition_by=["name"],
    )
    rewrite_files(spark, req)
    out = spark.read.parquet(str(tmp_path / "part_out"))
    assert sorted(r.id for r in out.collect()) == list(range(30))
    # partition dirs exist
    import os as _os

    assert any(p.startswith("name=") for p in _os.listdir(tmp_path / "part_out"))


def test_equality_delete_null_keys_never_match(spark, mor_files, tmp_path):
    """NULL values in an equality-delete file match nothing (SQL equality
    semantics — the reference's generated `=` predicate behaves the
    same); data rows with NULL keys likewise survive."""
    null_eq = write_parquet(
        spark,
        str(tmp_path / "null_eq"),
        [(None,), (5,)],
        "id int",
    )
    req = RewriteFilesRequest(
        schema=user_schema(spark, mor_files),
        data_files=data_tasks(mor_files),
        equality_delete_files=[
            FileScanTask(
                null_eq,
                sequence_number=9,
                content=FileContent.EQUALITY_DELETES,
                equality_ids=("id",),
            )
        ],
    )
    df = build_merge_on_read(spark, req)
    ids = collected_ids(df)
    assert 5 not in ids          # real key applied
    assert len(ids) == 29        # only id=5 removed; NULL deleted nothing


def test_rewrite_stats_single_pass_real_counts(spark, mor_files, tmp_path):
    """Stats come from the written parquet footers: per-file record_count
    is real, column min/max/null present, and the rewrite plan executes
    exactly ONE Spark job (no post-write re-aggregation of the MoR
    plan — at 100 TB a second pass doubles the job)."""
    req = RewriteFilesRequest(
        schema=user_schema(spark, mor_files),
        data_files=data_tasks(mor_files),
        position_delete_files=[
            FileScanTask(mor_files["pos1"], content=FileContent.POSITION_DELETES)
        ],
        dir_path=str(tmp_path / "stats_out"),
        target_partitions=3,
    )
    sc = spark.sparkContext
    # Warm-up run: one-time schema-inference/file-listing jobs happen on
    # the first touch of the input files and would skew the job counts.
    rewrite_files(spark, req)
    sc.setJobGroup("rewrite-stats-test", "single-pass check")
    try:
        resp = rewrite_files(spark, req)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("rewrite-stats-test")

    # Footer-based stats are a pure metadata read: re-collecting them for
    # every written file must spawn ZERO Spark jobs (the old path re-ran
    # the full MoR plan as a second aggregation pass).
    from ic_spark.compaction.writer import _stats_from_footer

    sc.setJobGroup("rewrite-stats-metadata", "footer stats only")
    try:
        for f in resp.data_files:
            _stats_from_footer(f.file_path, req.dir_path)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("rewrite-stats-metadata") == []

    # And the whole rewrite stays within the write's own job budget
    # (AQE accounts broadcast stages as separate jobs; a second full
    # pass would at least double this).  Budget is 5 since r9: the
    # position-delete path-spelling normalization adds one tiny
    # broadcast of the file-count-bounded (variant, path) map.
    assert len(jobs) <= 5, jobs

    # ids 0,1 deleted from data1; 5 deleted from data2 → 27 rows
    assert sum(f.record_count for f in resp.data_files) == 27
    assert all(f.record_count >= 0 for f in resp.data_files)
    by_min = [f.column_stats["id"] for f in resp.data_files]
    assert all(s["null_count"] == 0 for s in by_min)
    assert min(s["min"] for s in by_min) == 2
    assert max(s["max"] for s in by_min) == 29


def test_partitioned_rewrite_stats_have_partition_values(spark, mor_files, tmp_path):
    req = RewriteFilesRequest(
        schema=user_schema(spark, mor_files),
        data_files=data_tasks(mor_files),
        dir_path=str(tmp_path / "pstats_out"),
        partition_by=["name"],
    )
    resp = rewrite_files(spark, req)
    assert sum(f.record_count for f in resp.data_files) == 30
    for f in resp.data_files:
        assert f.partition_values and "name" in f.partition_values
        st = f.column_stats["name"]
        assert st["min"] == st["max"] == f.partition_values["name"]


@pytest.mark.slow
def test_schema_evolution_added_column(spark, tmp_path):
    """Old data files written before a column was added must compact
    cleanly under the NEW schema: the request schema drives every scan,
    and rows from old files surface null for the added column (Iceberg
    add-column semantics)."""
    old = spark.createDataFrame([(i, f"o{i}") for i in range(5)], "id int, name string")
    new = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(5, 10)], "id int, name string, score double"
    )
    paths = {}
    for tag, df in (("old", old), ("new", new)):
        p = str(tmp_path / tag)
        df.coalesce(1).write.parquet(p)
        paths[tag] = next(
            os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")
        )
    req = RewriteFilesRequest(
        schema=new.schema,
        data_files=[
            FileScanTask(paths["old"], sequence_number=1),
            FileScanTask(paths["new"], sequence_number=2),
        ],
        dir_path=str(tmp_path / "evo_out"),
        target_partitions=1,
    )
    resp = rewrite_files(spark, req)
    out = spark.read.parquet(str(tmp_path / "evo_out"))
    assert out.columns == ["id", "name", "score"]
    got = {r.id: r.score for r in out.collect()}
    assert all(got[i] is None for i in range(5))          # old rows: null
    assert all(got[i] == float(i) for i in range(5, 10))  # new rows: value
    assert sum(f.record_count for f in resp.data_files) == 10


@pytest.mark.slow
def test_compact_small_files_binpack(spark, tmp_path):
    """Binpack maintenance: small files merge, large files stay, deletes
    apply to rewritten rows but remain in the manifest, and the final
    table content is unchanged minus the deletes."""
    from ic_spark.compaction import Compaction, ManifestTable

    table = ManifestTable(str(tmp_path / "tbl"))
    files = []
    # Three small files + one "large" file (threshold set between them).
    for i in range(3):
        p = str(tmp_path / f"small{i}")
        spark.createDataFrame(
            [(j, f"s{j}") for j in range(i * 10, i * 10 + 10)], "id int, name string"
        ).coalesce(1).write.parquet(p)
        f = next(os.path.join(p, n) for n in os.listdir(p) if n.endswith(".parquet"))
        files.append(
            {"path": f, "sequence_number": 1, "content": "DATA",
             "file_size_in_bytes": os.path.getsize(f)}
        )
    p = str(tmp_path / "large")
    spark.createDataFrame(
        [(j, f"L{j}") for j in range(100, 160)], "id int, name string"
    ).coalesce(1).write.parquet(p)
    big = next(os.path.join(p, n) for n in os.listdir(p) if n.endswith(".parquet"))
    big_size = os.path.getsize(big)
    files.append(
        {"path": big, "sequence_number": 1, "content": "DATA",
         "file_size_in_bytes": big_size}
    )
    # Equality delete for two ids (seq 2 > data seq 1 → applies).
    pd = str(tmp_path / "eq")
    spark.createDataFrame([(5,), (105,)], "id int").coalesce(1).write.parquet(pd)
    eqf = next(os.path.join(pd, n) for n in os.listdir(pd) if n.endswith(".parquet"))
    files.append(
        {"path": eqf, "sequence_number": 2, "content": "EQUALITY_DELETES",
         "equality_ids": ["id"], "file_size_in_bytes": os.path.getsize(eqf)}
    )
    table.append_snapshot(files)

    comp = Compaction(spark)
    resp = comp.compact_small_files(
        table, spark.createDataFrame([], "id int, name string").schema,
        small_file_bytes=big_size,  # the large file is exactly not-small
    )
    assert resp.stat.rewritten_files_count == 3
    assert resp.stat.added_files_count >= 1

    data, pos, eq = table.scan_tasks()
    paths = {t.data_file_path for t in data}
    assert big in paths                     # large file untouched
    assert len(eq) == 1                     # delete file retained
    # Rewritten rows carry a new sequence above the delete's.
    new_seqs = {t.sequence_number for t in data if t.data_file_path != big}
    assert new_seqs == {3}

    # Reading the table now: id=5 gone (applied in rewrite, immune to
    # re-application), id=105 gone (delete still guards the large file).
    from ic_spark.compaction.deletes import read_table

    out = read_table(spark, table)
    ids = sorted(r.id for r in out.collect())
    assert ids == sorted((set(range(30)) | set(range(100, 160))) - {5, 105})


def test_equality_delete_null_key_semantics(spark, tmp_path):
    """Plain-equality deletes (reference behavior): null keys never
    match — null-keyed data survives, null-keyed deletes delete
    nothing.  null_safe=True flips to Iceberg-spec null==null."""
    from ic_spark.compaction.planner import apply_equality_deletes
    from ic_spark.compaction.request import SYS_HIDDEN_SEQ_NUM

    data = spark.createDataFrame(
        [(1, "a", 1), (2, None, 1), (3, "c", 1)],
        f"id int, k string, {SYS_HIDDEN_SEQ_NUM} long",
    )
    dels = spark.createDataFrame(
        [(None, 2), ("c", 2)], f"k string, {SYS_HIDDEN_SEQ_NUM} long"
    )
    kept = apply_equality_deletes(data, dels, ["k"])
    assert sorted(r.id for r in kept.collect()) == [1, 2]  # null survives

    kept_ns = apply_equality_deletes(data, dels, ["k"], null_safe=True)
    assert sorted(r.id for r in kept_ns.collect()) == [1]  # null==null deletes


def test_commit_rewrite_conflict_detection(spark, tmp_path):
    """A rewrite planned against files a concurrent writer already
    replaced must FAIL, not silently resurrect old rows."""
    from ic_spark.compaction.manifest import CommitConflictError, ManifestTable

    table = ManifestTable(str(tmp_path / "cc"))
    table.append_snapshot([{"path": "/data/a.parquet", "sequence_number": 1, "content": "DATA"}])
    base = table.current_snapshot().snapshot_id

    # Writer 1 commits first — /data/a.parquet is gone.
    table.commit_rewrite(
        [{"path": "/data/b.parquet", "sequence_number": 2, "content": "DATA"}],
        {"/data/a.parquet"},
    )
    # Writer 2 planned against the old snapshot: stale removal set.
    with pytest.raises(CommitConflictError, match="no longer live"):
        table.commit_rewrite(
            [{"path": "/data/c.parquet", "sequence_number": 2, "content": "DATA"}],
            {"/data/a.parquet"},
        )
    # Strict mode: any table movement at all is a conflict.
    with pytest.raises(CommitConflictError, match="table moved"):
        table.commit_rewrite(
            [{"path": "/data/d.parquet", "sequence_number": 3, "content": "DATA"}],
            set(),
            expected_snapshot_id=base,
        )
    # Non-conflicting commit on the fresh snapshot succeeds.
    sid = table.commit_rewrite(
        [{"path": "/data/e.parquet", "sequence_number": 3, "content": "DATA"}],
        {"/data/b.parquet"},
        expected_snapshot_id=table.current_snapshot().snapshot_id,
    )
    assert sid == table.current_snapshot().snapshot_id


def test_rewrite_position_deletes_merges_and_prunes(spark, tmp_path):
    """Delete-file maintenance: N position-delete files merge into one,
    dangling entries (pointing at rewritten data files) are dropped,
    and MoR reads are unchanged."""
    from ic_spark.compaction.deletes import (
        read_table,
        write_position_deletes,
    )
    from ic_spark.compaction.manifest import ManifestTable
    from ic_spark.compaction.orchestrator import Compaction

    table = ManifestTable(str(tmp_path / "rpd"))
    d = str(tmp_path / "rpd_data")
    spark.range(100).coalesce(1).write.parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    table.append_snapshot(
        [{"path": f, "sequence_number": 1, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(f)}]
    )
    import pyspark.sql.functions as F

    write_position_deletes(spark, table, F.col("id") < 5)
    write_position_deletes(spark, table, F.col("id") >= 95)
    _, pos, _ = table.scan_tasks()
    assert len(pos) == 2
    before = sorted(r.id for r in read_table(spark, table).collect())
    assert before == list(range(5, 95))

    stats = Compaction(spark).rewrite_position_deletes(table)
    assert stats["merged"] == 2 and stats["kept_rows"] == 10
    _, pos, _ = table.scan_tasks()
    assert len(pos) == 1
    assert sorted(r.id for r in read_table(spark, table).collect()) == before

    # Replace the data file entirely -> every delete entry dangles ->
    # the next rewrite drops the delete file altogether.
    d2 = str(tmp_path / "rpd_data2")
    spark.range(200, 210).coalesce(1).write.parquet(d2)
    f2 = next(os.path.join(d2, n) for n in os.listdir(d2) if n.endswith(".parquet"))
    table.commit_rewrite(
        [{"path": f2, "sequence_number": 2, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(f2)}],
        {f},
    )
    stats = Compaction(spark).rewrite_position_deletes(table)
    assert stats["kept_rows"] == 0
    _, pos, _ = table.scan_tasks()
    assert pos == []
    assert sorted(r.id for r in read_table(spark, table).collect()) == list(range(200, 210))


def test_remove_orphan_files(spark, tmp_path):
    """Orphan listing finds unreferenced parquet under the table root,
    respects the age cutoff, and never touches referenced files."""
    from ic_spark.compaction.manifest import ManifestTable

    table = ManifestTable(str(tmp_path / "orph"))
    d = str(tmp_path / "orph" / "data")
    spark.range(10).coalesce(1).write.parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    table.append_snapshot(
        [{"path": f, "sequence_number": 1, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(f)}]
    )
    # A failed write's leftover + a staged snapshot's file.
    stray_dir = str(tmp_path / "orph" / "aborted")
    spark.range(3).coalesce(1).write.parquet(stray_dir)
    stray = next(
        os.path.join(stray_dir, n)
        for n in os.listdir(stray_dir) if n.endswith(".parquet")
    )
    staged_dir = str(tmp_path / "orph" / "staged")
    spark.range(4).coalesce(1).write.parquet(staged_dir)
    staged = next(
        os.path.join(staged_dir, n)
        for n in os.listdir(staged_dir) if n.endswith(".parquet")
    )
    table.append_snapshot(
        [{"path": staged, "sequence_number": 2, "content": "DATA",
          "file_size_in_bytes": 1}],
        stage=True,
    )

    # Default 3-day cutoff: fresh files are protected.
    assert table.remove_orphan_files() == []
    got = table.remove_orphan_files(older_than_s=0)
    assert got == [os.path.abspath(stray)]  # staged file is referenced
    assert os.path.exists(stray)  # listing only
    table.remove_orphan_files(older_than_s=0, delete=True)
    assert not os.path.exists(stray)
    assert os.path.exists(f) and os.path.exists(staged)


@pytest.mark.slow
def test_convert_equality_deletes_to_position(spark, tmp_path):
    """Eq->pos conversion: visible rows identical, eq files replaced by
    one position-delete file, and rows re-inserted AFTER conversion
    stay visible (the strict-seq semantics are preserved exactly)."""
    from ic_spark.compaction.deletes import (
        read_table,
        write_equality_deletes,
    )
    from ic_spark.compaction.manifest import ManifestTable
    from ic_spark.compaction.orchestrator import Compaction

    table = ManifestTable(str(tmp_path / "conv"))
    d = str(tmp_path / "conv_data")
    spark.range(50).selectExpr("id", "id % 5 AS k").coalesce(2).write.parquet(d)
    table.append_snapshot(
        [{"path": os.path.join(d, n), "sequence_number": 1, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(os.path.join(d, n))}
         for n in sorted(os.listdir(d)) if n.endswith(".parquet")]
    )
    # Two groups with different id-lists.
    write_equality_deletes(
        spark, table, spark.createDataFrame([(0,)], "k long"), ["k"]
    )
    write_equality_deletes(
        spark, table, spark.createDataFrame([(7,), (9,)], "id long"), ["id"]
    )
    before = sorted(r.id for r in read_table(spark, table).collect())
    assert before == [i for i in range(50) if i % 5 != 0 and i not in (7, 9)]

    stats = Compaction(spark).convert_equality_deletes(table)
    assert stats["converted"] == 2 and stats["delete_rows"] == 12
    _, pos, eq = table.scan_tasks()
    assert eq == [] and len(pos) == 1
    assert sorted(r.id for r in read_table(spark, table).collect()) == before

    # Re-insert a previously-deleted key AFTER conversion: visible
    # (same as under the original strict-< equality semantics).
    d2 = str(tmp_path / "conv_new")
    spark.createDataFrame([(7, 2)], "id long, k long").coalesce(1).write.parquet(d2)
    f2 = next(os.path.join(d2, n) for n in os.listdir(d2) if n.endswith(".parquet"))
    table.append_snapshot(
        [{"path": f2, "sequence_number": 9, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(f2)}]
    )
    after = sorted(r.id for r in read_table(spark, table).collect())
    assert after == sorted(before + [7])

    # Idempotent no-op when no equality deletes remain.
    assert Compaction(spark).convert_equality_deletes(table) == {
        "converted": 0, "delete_rows": 0
    }


def test_bloom_filter_write_knob(spark, tmp_path):
    """bloom_filter_cols writes parquet bloom filters (file grows by the
    filter bytes; sized-down by bloom_filter_ndv), results stay exact,
    and the knob round-trips both request codecs."""
    import os

    from ic_spark.compaction.request import FileScanTask, RewriteFilesRequest
    from ic_spark.compaction.writer import rewrite_files

    src = spark.range(0, 20000).selectExpr("id", "concat('k', id) AS key")
    d = str(tmp_path / "bloom_src")
    src.coalesce(1).write.parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))

    def run(out, **kw):
        resp = rewrite_files(
            spark,
            RewriteFilesRequest(
                schema=src.schema,
                data_files=[FileScanTask(f, sequence_number=1)],
                dir_path=str(tmp_path / out),
                target_partitions=1,
                **kw,
            ),
        )
        return sum(df.file_size_in_bytes for df in resp.data_files)

    plain = run("plain")
    big = run("bloom_big", bloom_filter_cols=["key"])
    sized = run(
        "bloom_sized",
        bloom_filter_cols=["key"],
        bloom_filter_ndv={"key": 20000},
    )
    assert big > plain  # a bloom actually landed in the file
    assert plain < sized < big  # NDV sizing shrinks it

    got = (
        spark.read.parquet(str(tmp_path / "bloom_sized"))
        .where(F.col("key") == "k19999")
        .collect()
    )
    assert [(r.id, r.key) for r in got] == [(19999, "k19999")]

    # codec round-trips: JSON payload (client shape) and protobuf wire
    from ic_spark.compaction.proto import request_from_proto, request_to_proto
    from ic_spark.compaction.service import decode_request

    rt = decode_request(
        {
            "schema": src.schema.jsonValue(),
            "dir_path": "/x",
            "data_files": [{"path": f, "sequence_number": 1}],
            "bloom_filter_cols": ["key"],
            "bloom_filter_ndv": {"key": 20000},
        }
    )
    assert rt.bloom_filter_cols == ["key"] and rt.bloom_filter_ndv == {"key": 20000}

    req = RewriteFilesRequest(
        schema=src.schema,
        data_files=[FileScanTask(f, sequence_number=1)],
        bloom_filter_cols=["key"],
        bloom_filter_ndv={"key": 20000},
    )
    rt2 = request_from_proto(request_to_proto(req))
    assert rt2.bloom_filter_cols == ["key"]
    assert rt2.bloom_filter_ndv == {"key": 20000}


def test_compression_codec_knob(spark, tmp_path):
    """compression on the request picks the output codec: zstd files
    are named *.zstd.parquet, read back exactly, and the knob
    round-trips both codecs."""
    import os

    from ic_spark.compaction.proto import request_from_proto, request_to_proto
    from ic_spark.compaction.request import FileScanTask, RewriteFilesRequest
    from ic_spark.compaction.service import decode_request
    from ic_spark.compaction.writer import rewrite_files

    src = spark.range(0, 5000).selectExpr("id", "id * 3 AS v")
    d = str(tmp_path / "c_src")
    src.coalesce(1).write.parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    out = str(tmp_path / "c_out")
    rewrite_files(
        spark,
        RewriteFilesRequest(
            schema=src.schema,
            data_files=[FileScanTask(f, sequence_number=1)],
            dir_path=out,
            target_partitions=1,
            compression="zstd",
        ),
    )
    names = [n for n in os.listdir(out) if n.endswith(".parquet")]
    assert names and all(".zstd." in n for n in names), names
    assert spark.read.parquet(out).count() == 5000

    req = RewriteFilesRequest(
        schema=src.schema, data_files=[FileScanTask(f)], compression="zstd"
    )
    assert request_from_proto(request_to_proto(req)).compression == "zstd"
    assert (
        decode_request(
            {
                "schema": src.schema.jsonValue(),
                "dir_path": "/x",
                "data_files": [{"path": f}],
                "compression": "zstd",
            }
        ).compression
        == "zstd"
    )


# ------------------------------------------------------- schema evolution
# Iceberg spec evolution matrix beyond add-column: widening promotions
# (int->long, float->double, decimal precision) and rename via the
# name-mapping fallback (schema.name-mapping.default analog).


@pytest.mark.slow
def test_schema_evolution_widening_promotions(spark, tmp_path):
    """Old int/float columns read as long/double under the new schema;
    values are exact."""
    old = write_parquet(
        spark, str(tmp_path / "wold"),
        [(1, 1.5), (2, 2.5)], "id int, score float",
    )
    from decimal import Decimal
    new = write_parquet(
        spark, str(tmp_path / "wnew"),
        [(3, 3.5), (4, 4.5)], "id long, score double",
    )
    req = RewriteFilesRequest(
        schema=spark.createDataFrame([], "id long, score double").schema,
        data_files=[FileScanTask(old, sequence_number=1),
                    FileScanTask(new, sequence_number=2)],
        dir_path=str(tmp_path / "wout"),
        target_partitions=1,
    )
    rewrite_files(spark, req)
    out = spark.read.parquet(str(tmp_path / "wout"))
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint", "double"
    ]
    got = {r.id: r.score for r in out.collect()}
    assert got == {1: 1.5, 2: 2.5, 3: 3.5, 4: 4.5}


def test_schema_evolution_decimal_precision_widening(spark, tmp_path):
    from decimal import Decimal

    old = write_parquet(
        spark, str(tmp_path / "dold"),
        [(1, Decimal("1.25"))], "id int, amt decimal(5,2)",
    )
    req = RewriteFilesRequest(
        schema=spark.createDataFrame([], "id long, amt decimal(12,2)").schema,
        data_files=[FileScanTask(old, sequence_number=1)],
        dir_path=str(tmp_path / "dout"),
        target_partitions=1,
    )
    rewrite_files(spark, req)
    out = spark.read.parquet(str(tmp_path / "dout")).collect()
    assert out[0].amt == Decimal("1.25")


@pytest.mark.slow
def test_schema_evolution_illegal_narrowing_rejected(spark, tmp_path):
    """Spark's reader would silently misread decimal(5,2) under an int
    schema (1.25 -> 125); the footer validator must reject it at plan
    time instead."""
    from decimal import Decimal

    f = write_parquet(
        spark, str(tmp_path / "nold"),
        [(1, Decimal("1.25"))], "id int, amt decimal(5,2)",
    )
    req = RewriteFilesRequest(
        schema=spark.createDataFrame([], "id int, amt int").schema,
        data_files=[FileScanTask(f, sequence_number=1)],
        dir_path=str(tmp_path / "nout"),
    )
    with pytest.raises(ValueError, match="not promotable"):
        build_merge_on_read(spark, req)
    # long->int and decimal scale change are equally illegal
    f2 = write_parquet(spark, str(tmp_path / "nold2"), [(1,)], "id long")
    req2 = RewriteFilesRequest(
        schema=spark.createDataFrame([], "id int").schema,
        data_files=[FileScanTask(f2, sequence_number=1)],
        dir_path=str(tmp_path / "nout2"),
    )
    with pytest.raises(ValueError, match="not promotable"):
        build_merge_on_read(spark, req2)


@pytest.mark.slow
def test_schema_evolution_rename_via_name_mapping(spark, tmp_path):
    """Files written before a rename resolve through name_mapping; new
    files use the current name; values line up row-for-row."""
    old = write_parquet(
        spark, str(tmp_path / "rold"),
        [(1, "a"), (2, "b")], "id int, title string",
    )
    new = write_parquet(
        spark, str(tmp_path / "rnew"),
        [(3, "c"), (4, None)], "id int, name string",
    )
    req = RewriteFilesRequest(
        schema=spark.createDataFrame([], "id int, name string").schema,
        data_files=[FileScanTask(old, sequence_number=1),
                    FileScanTask(new, sequence_number=2)],
        dir_path=str(tmp_path / "rout"),
        target_partitions=1,
        name_mapping={"name": ["title"]},
    )
    rewrite_files(spark, req)
    out = spark.read.parquet(str(tmp_path / "rout"))
    assert out.columns == ["id", "name"]
    got = {r.id: r.name for r in out.collect()}
    # genuinely-null new-file value must NOT fall back to the old column
    assert got == {1: "a", 2: "b", 3: "c", 4: None}


@pytest.mark.slow
def test_schema_evolution_rename_plus_widen_plus_add(spark, tmp_path):
    """The combined case: rename AND widen one column across the rename,
    plus an added column, with deletes applied on top."""
    old = write_parquet(
        spark, str(tmp_path / "cold"),
        [(1, 10), (2, 20)], "id int, qty int",
    )
    new = write_parquet(
        spark, str(tmp_path / "cnew"),
        [(3, 30, "x"), (4, 40, "y")], "id int, quantity long, tag string",
    )
    eq = write_parquet(spark, str(tmp_path / "ceq"), [(2,), (4,)], "id int")
    req = RewriteFilesRequest(
        schema=spark.createDataFrame([], "id int, quantity long, tag string").schema,
        data_files=[FileScanTask(old, sequence_number=1),
                    FileScanTask(new, sequence_number=1)],
        equality_delete_files=[
            FileScanTask(eq, sequence_number=2,
                         content=FileContent.EQUALITY_DELETES,
                         equality_ids=("id",))
        ],
        dir_path=str(tmp_path / "cout"),
        target_partitions=1,
        name_mapping={"quantity": ["qty"]},
    )
    rewrite_files(spark, req)
    out = spark.read.parquet(str(tmp_path / "cout"))
    got = {r.id: (r.quantity, r.tag) for r in out.collect()}
    assert got == {1: (10, None), 3: (30, "x")}


def test_name_mapping_proto_roundtrip(spark):
    from ic_spark.compaction.proto import request_from_proto, request_to_proto

    req = RewriteFilesRequest(
        schema=spark.createDataFrame([], "id int, name string").schema,
        data_files=[FileScanTask("/tmp/x.parquet", sequence_number=1)],
        dir_path="/tmp/out",
        name_mapping={"name": ["title", "old,comma"]},
    )
    wire = request_to_proto(req)
    back = request_from_proto(wire)
    assert back.name_mapping == {"name": ["title", "old,comma"]}


def _plan_cost_request(spark, base):
    """Two identity-partitioned data files whose pages omit ``g``,
    position deletes in both column flavors (spec ``file_path``/``pos``
    recorded under the manifest spelling, legacy ``sys_hidden_*`` under
    the scan spelling), and two equality-delete groups.  Returns the
    request and its expected (id, name, g) rows."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    a = write_parquet(
        spark,
        str(base / "g=a"),
        [(i, f"n{i}") for i in range(10)],
        "id long, name string",
    )
    b = write_parquet(
        spark,
        str(base / "g=b"),
        [(i, f"n{i}") for i in range(10, 20)],
        "id long, name string",
    )
    pos_spec = write_parquet(
        spark,
        str(base / "pos_spec"),
        [(a, 0), (a, 1)],
        "file_path string, pos long",
    )
    pos_legacy = write_parquet(
        spark,
        str(base / "pos_legacy"),
        [(spark_uri(b), 3)],
        "sys_hidden_file_path string, sys_hidden_pos long",
    )
    eq_id = write_parquet(spark, str(base / "eq_id"), [(5,), (15,)], "id long")
    eq_id_name = write_parquet(
        spark,
        str(base / "eq_id_name"),
        [(12, "n12"), (7, "nope")],
        "id long, name string",
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("g", StringType()),
        ]
    )
    req = RewriteFilesRequest(
        schema=schema,
        data_files=[
            FileScanTask(a, sequence_number=1, partition_values={"g": "a"}),
            FileScanTask(b, sequence_number=2, partition_values={"g": "b"}),
        ],
        position_delete_files=[
            FileScanTask(pos_spec, 3, FileContent.POSITION_DELETES),
            FileScanTask(pos_legacy, 3, FileContent.POSITION_DELETES),
        ],
        equality_delete_files=[
            FileScanTask(eq_id, 3, FileContent.EQUALITY_DELETES, ("id",)),
            FileScanTask(
                eq_id_name, 4, FileContent.EQUALITY_DELETES, ("id", "name")
            ),
        ],
    )
    want = [(i, f"n{i}", "a") for i in (2, 3, 4, 6, 7, 8, 9)] + [
        (i, f"n{i}", "b") for i in (10, 11, 14, 16, 17, 18, 19)
    ]
    return req, want


def test_mor_plan_build_runs_no_job_and_no_python_rdd(spark, tmp_path, monkeypatch):
    """Plan cost pin: building the MoR frame runs no Spark job (every
    delete scan reads under a known schema — nothing is inferred), and
    each driver-built file map (path spellings, partition values) ships
    as an Arrow batch, not a pickled Python RDD whose broadcast would
    start Python workers."""
    req, want = _plan_cost_request(spark, tmp_path)
    maps = []
    create = spark.createDataFrame

    def spy(*args, **kwargs):
        df = create(*args, **kwargs)
        maps.append(df)
        return df

    monkeypatch.setattr(spark, "createDataFrame", spy)
    dag = spark._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    out = build_merge_on_read(spark, req)
    assert dag.nextJobId() - before == 0
    monkeypatch.undo()
    assert len(maps) == 2  # path-spelling map + partition-value map
    for m in maps:
        assert "PythonRDD" not in m._jdf.rdd().toDebugString()
    assert sorted(map(tuple, out.collect())) == sorted(want)


def test_mor_maps_without_arrow_match(spark, tmp_path):
    """Spark's non-Arrow fallback for the driver-built file maps
    returns the same rows as the Arrow route (position deletes under
    both path spellings, partition fill, equality deletes)."""
    req, want = _plan_cost_request(spark, tmp_path)
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    with_arrow = sorted(map(tuple, build_merge_on_read(spark, req).collect()))
    spark.conf.set(key, "false")
    try:
        without = sorted(map(tuple, build_merge_on_read(spark, req).collect()))
    finally:
        spark.conf.set(key, prev)
    assert with_arrow == without == sorted(want)


def test_equality_delete_scan_enforces_table_key_types(spark, tmp_path):
    """Equality-delete files read under the table schema's key fields:
    a file storing a ``bigint`` key as int32 still deletes (widening
    read), while a file whose key type is wider than the table's fails
    at plan time — it is not silently cast in the join — and so does a
    file that lacks the key column (it would read as NULL and delete
    nothing)."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    def request(tag, key_type, data_ddl, eq_ddl):
        data = write_parquet(
            spark,
            str(tmp_path / f"data_{tag}"),
            [(i, f"n{i}") for i in range(6)],
            data_ddl,
        )
        eq = write_parquet(
            spark,
            str(tmp_path / f"eq_{tag}"),
            [(2,), (4,)],
            eq_ddl,
        )
        return RewriteFilesRequest(
            schema=StructType(
                [StructField("id", key_type), StructField("name", StringType())]
            ),
            data_files=[FileScanTask(data, sequence_number=1)],
            equality_delete_files=[
                FileScanTask(eq, 2, FileContent.EQUALITY_DELETES, ("id",))
            ],
        )

    widened = request("widened", LongType(), "id long, name string", "id int")
    assert collected_ids(build_merge_on_read(spark, widened)) == [0, 1, 3, 5]
    narrowed = request("narrowed", IntegerType(), "id int, name string", "id long")
    with pytest.raises(ValueError, match="schema evolution:"):
        build_merge_on_read(spark, narrowed)
    keyless = request("keyless", LongType(), "id long, name string", "key long")
    with pytest.raises(ValueError, match="lacks key column"):
        build_merge_on_read(spark, keyless)
