"""SQL front door: the reference's literal MERGE template text
(icberg/iceberg_tables.py:45-50) and time-travel SELECTs, executed
against open_table facades on all three layouts."""

import pytest
from pyspark.sql import functions as F

from aws_glue_data_lake_spark.sqlfront import sql
from aws_glue_data_lake_spark.table import open_table

# the reference's template, verbatim (icberg/iceberg_tables.py:45-50)
MERGE_SQL_STMNT = """
    MERGE INTO {CATALOG}.{DATABASE}.{TABLE} AS data
    USING input_data_updates AS updates
    ON data.{primary_key} = updates.{primary_key}
    WHEN MATCHED THEN DELETE
    """


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, v long")


@pytest.mark.parametrize("fmt", ["delta", "iceberg", "lake"])
def test_reference_merge_template_runs(spark, tmp_path, fmt):
    """The reference's exact MERGE ... WHEN MATCHED THEN DELETE text:
    matching keys are deleted; the caller then appends the deduped
    batch — the reference's incremental-load shape."""
    path = str(tmp_path / fmt)
    t = open_table(path, fmt).create(
        _mk(spark, [(1, 10), (2, 20), (3, 30)])
    )
    updates = _mk(spark, [(2, 99), (4, 40)])
    updates.createOrReplaceTempView("input_data_updates")
    out = sql(
        spark,
        MERGE_SQL_STMNT.format(
            CATALOG="glue_catalog", DATABASE="db", TABLE="tbl",
            primary_key="k",
        ),
        tables={"glue_catalog.db.tbl": path},
    )
    assert out is None
    assert sorted((r["k"], r["v"]) for r in t.read(spark).collect()) == [
        (1, 10), (3, 30)
    ]
    # the reference then appends the deduped batch
    t.append(updates)
    assert sorted((r["k"], r["v"]) for r in t.read(spark).collect()) == [
        (1, 10), (2, 99), (3, 30), (4, 40)
    ]


def test_merge_update_insert_star(spark, tmp_path):
    path = str(tmp_path / "d")
    t = open_table(path, "delta").create(_mk(spark, [(1, 10), (2, 20)]))
    _mk(spark, [(2, 99), (3, 30)]).createOrReplaceTempView("upd")
    sql(
        spark,
        f"MERGE INTO delta.`{path}` AS t USING upd AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    assert sorted((r["k"], r["v"]) for r in t.read(spark).collect()) == [
        (1, 10), (2, 99), (3, 30)
    ]


def test_select_with_version_as_of(spark, tmp_path):
    path = str(tmp_path / "d")
    t = open_table(path, "delta").create(_mk(spark, [(1, 10)]))
    t.append(_mk(spark, [(2, 20)]))
    cur = sql(
        spark,
        f"SELECT k, v FROM delta.`{path}` ORDER BY k",
    ).collect()
    assert [(r["k"], r["v"]) for r in cur] == [(1, 10), (2, 20)]
    old = sql(
        spark,
        f"SELECT count(*) AS n FROM delta.`{path}` VERSION AS OF 0",
    ).collect()
    assert old[0]["n"] == 1
    # tables-mapping name resolution inside a bigger statement
    got = sql(
        spark,
        "SELECT t.k + 1 AS k1 FROM mytbl t WHERE t.k = 2",
        tables={"mytbl": path},
    ).collect()
    assert [r["k1"] for r in got] == [3]


def test_unsupported_shapes_fail_loudly(spark, tmp_path):
    path = str(tmp_path / "d")
    t = open_table(path, "delta").create(_mk(spark, [(1, 10), (2, 20)]))
    _mk(spark, [(1, 11), (9, 90)]).createOrReplaceTempView("u2")
    # matched-only column UPDATE is a SUPPORTED shape since the
    # chained-clause grammar landed: updates matches, inserts nothing
    sql(
        spark,
        f"MERGE INTO delta.`{path}` AS t USING u2 AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v",
    )
    assert sorted(
        (r["k"], r["v"]) for r in t.read(spark).collect()
    ) == [(1, 11), (2, 20)]
    with pytest.raises(ValueError, match="clause shape"):
        sql(
            spark,
            f"MERGE INTO delta.`{path}` AS t USING u2 AS s ON t.k = s.k "
            "WHEN MATCHED THEN TRUNCATE",
        )
    with pytest.raises(ValueError, match="condition clause"):
        sql(
            spark,
            f"MERGE INTO delta.`{path}` AS t USING u2 AS s ON t.k > s.k "
            "WHEN MATCHED THEN DELETE",
        )
    with pytest.raises(ValueError, match="not a known table"):
        sql(
            spark,
            "MERGE INTO nowhere AS t USING u2 AS s ON t.k = s.k "
            "WHEN MATCHED THEN DELETE",
        )


def test_merge_cdc_shape_with_delete_predicate(spark, tmp_path):
    """The full CDC MERGE (delta-spark's common template): a
    source-side predicate routes rows to DELETE, the rest upsert."""
    path = str(tmp_path / "d")
    t = open_table(path, "delta").create(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "k long, v long"
        )
    )
    spark.createDataFrame(
        [(2, 99, "U"), (3, 0, "D"), (4, 40, "I")],
        "k long, v long, Op string",
    ).createOrReplaceTempView("cdc_batch")
    sql(
        spark,
        f"MERGE INTO delta.`{path}` AS t USING cdc_batch AS s "
        "ON t.k = s.k "
        "WHEN MATCHED AND s.Op = 'D' THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    got = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert got == [(1, 10), (2, 99), (4, 40)]


@pytest.mark.parametrize("fmt", ["delta", "iceberg", "lake"])
def test_update_statement_single_commit(spark, tmp_path, fmt):
    """UPDATE ... SET ... WHERE through the front door: one commit,
    assignments applied to matching rows only, multi-assignment SET
    list with expressions referencing other columns."""
    path = str(tmp_path / fmt)
    t = open_table(path, fmt).create(
        _mk(spark, [(k, k * 10) for k in range(1, 8)])
    )
    before = len(t.history())
    out = sql(
        spark,
        f"UPDATE {fmt}.`{path}` SET v = v + 1000 WHERE k % 2 = 0",
    )
    assert out is None
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert rows == {
        k: k * 10 + (1000 if k % 2 == 0 else 0) for k in range(1, 8)
    }
    assert len(t.history()) == before + 1  # ONE commit


def test_update_without_where_touches_all(spark, tmp_path):
    path = str(tmp_path / "t")
    t = open_table(path, "delta").create(_mk(spark, [(1, 1), (2, 2)]))
    sql(spark, f"UPDATE delta.`{path}` SET v = k * 100")
    assert sorted(
        (r["k"], r["v"]) for r in t.read(spark).collect()
    ) == [(1, 100), (2, 200)]


@pytest.mark.parametrize("fmt", ["delta", "iceberg", "lake"])
def test_delete_statement(spark, tmp_path, fmt):
    path = str(tmp_path / fmt)
    t = open_table(path, fmt).create(
        _mk(spark, [(k, k) for k in range(10)])
    )
    assert sql(spark, f"DELETE FROM {fmt}.`{path}` WHERE k >= 5") is None
    assert sorted(r["k"] for r in t.read(spark).collect()) == [
        0, 1, 2, 3, 4,
    ]


@pytest.mark.parametrize("fmt", ["delta", "iceberg", "lake"])
def test_update_unknown_column_fails_loudly(spark, tmp_path, fmt):
    path = str(tmp_path / fmt)
    open_table(path, fmt).create(_mk(spark, [(1, 1)]))
    with pytest.raises(ValueError, match="unknown column"):
        sql(spark, f"UPDATE {fmt}.`{path}` SET nope = 1")


def _files_by_partition(fmt, path):
    """Every live data file -> its ``p`` partition value, as a string."""
    if fmt == "delta":
        from aws_glue_data_lake_spark.deltacompat import DeltaTableReader

        return {
            f: str(pv["p"])
            for f, pv, _ in DeltaTableReader(path).snapshot().files
        }
    if fmt == "iceberg":
        from aws_glue_data_lake_spark.icebergcompat import (
            IcebergTableReader,
        )

        return {
            f: str(pv["p"])
            for f, pv in IcebergTableReader(path).snapshot().files
        }
    from aws_glue_data_lake_spark.lake import LakeTable

    return {
        e["path"]: str(e["partition"]["p"])
        for e in LakeTable(path).snapshot().files
    }


@pytest.mark.parametrize("fmt", ["delta", "iceberg", "lake"])
def test_update_only_rewrites_matched_files(spark, tmp_path, fmt):
    """Scale contract: files without a matching row are carried by
    reference — the new version must REMOVE only the files that held
    matches."""
    path = str(tmp_path / fmt)
    t = open_table(path, fmt)
    # two files via partitions: k<5 in p=0, rest in p=1
    df = spark.createDataFrame(
        [(k, k * 10, k // 5) for k in range(10)], "k long, v long, p long"
    )
    t.create(df, partition_by=["p"])
    files_before = _files_by_partition(fmt, path)
    sql(spark, f"UPDATE {fmt}.`{path}` SET v = 0 WHERE k = 7")  # p=1 only
    files_after = _files_by_partition(fmt, path)
    carried = files_before.keys() & files_after.keys()
    rewritten = files_before.keys() - files_after.keys()
    assert rewritten, "the matched file must be rewritten"
    # every p=0 file carries by reference; only p=1 file(s) holding k=7
    # are rewritten
    assert {f for f, p in files_before.items() if p == "0"} <= carried
    assert all(files_before[f] == "1" for f in rewritten)
    assert sorted(
        (r["k"], r["v"]) for r in t.read(spark).collect()
    ) == [(k, 0 if k == 7 else k * 10) for k in range(10)]


@pytest.mark.parametrize("fmt", ["delta", "iceberg", "lake"])
def test_update_copies_rows_whose_predicate_is_null(spark, tmp_path, fmt):
    """A row whose WHERE evaluates to NULL is neither updated nor
    dropped: it is copied unchanged into the rewritten file, next to
    the matched rows of the same file."""
    path = str(tmp_path / fmt)
    rows = [(1, 10), (2, None), (3, 30), (4, None)]
    t = open_table(path, fmt).create(_mk(spark, rows).coalesce(1))
    t.update_where(spark, "v > 15", {"v": "v + 1000"})
    assert sorted(
        ((r["k"], r["v"]) for r in t.read(spark).collect()),
        key=lambda kv: kv[0],
    ) == [(1, 10), (2, None), (3, 1030), (4, None)]


def _count_jobs(spark, fn) -> int:
    """Spark jobs that ``fn()`` issues, counted by job group (the
    ``TestStagedBatchBounds`` idiom in test_cdc.py)."""
    import uuid

    sc = spark.sparkContext
    group = f"dml-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "dml job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


#: Spark jobs of one copy-on-write UPDATE on a two-file table, one file
#: affected, no CDF: the affected-file collect and the rewrite's staging
#: write. A second scan of the affected files, a re-evaluated predicate
#: or a probe job added to the shared rewrite path goes over.
UPDATE_JOBS = {"delta": 3, "iceberg": 4, "lake": 3}


@pytest.mark.parametrize("fmt", ["delta", "iceberg", "lake"])
def test_update_where_job_budget(spark, tmp_path, fmt):
    path = str(tmp_path / fmt)
    t = open_table(path, fmt).create(
        spark.createDataFrame(
            [(k, k * 10, k // 5) for k in range(10)],
            "k long, v long, p long",
        ),
        partition_by=["p"],
    )
    counts = [
        _count_jobs(
            spark,
            lambda: t.update_where(spark, f"k = {k}", {"v": "v + 1"}),
        )
        for k in (7, 8)
    ]
    assert sorted(
        (r["k"], r["v"]) for r in t.read(spark).collect()
    ) == [(k, k * 10 + (1 if k in (7, 8) else 0)) for k in range(10)]
    # the first call warms the session; both must stay in budget
    assert max(counts) <= UPDATE_JOBS[fmt], counts


#: Spark jobs of one Iceberg ``overwrite_partition`` that replaces one
#: of two partitions: the staging write of the incoming batch. The
#: manifest rewrite it shares with UPDATE is driver-side and adds none.
OVERWRITE_PARTITION_JOBS = 2


def test_iceberg_overwrite_partition_job_budget(spark, tmp_path):
    from aws_glue_data_lake_spark.icebergcompat import IcebergTableWriter

    path = str(tmp_path / "t")
    w = IcebergTableWriter(path)
    w.create(
        spark.createDataFrame(
            [(k, k * 10, k // 5) for k in range(10)],
            "k long, v long, p long",
        ),
        partition_by=["p"],
    )
    counts = [
        _count_jobs(
            spark,
            lambda: w.overwrite_partition(
                spark.createDataFrame(
                    [(100 + i, i, 1)], "k long, v long, p long"
                ),
                p=1,
            ),
        )
        for i in range(2)
    ]
    assert sorted(
        r["k"] for r in open_table(path, "iceberg").read(spark).collect()
    ) == [0, 1, 2, 3, 4, 101]
    assert max(counts) <= OVERWRITE_PARTITION_JOBS, counts


#: Spark jobs of each merge-on-read DELETE in the sequence
#: ``k % 9 = 4``, ``k < 20``, ``k = -1``, ``k % 9 = 4`` on a 200-row,
#: 4-file table. Every path takes its matched positions from one
#: ``dml.pack_positions`` collect over the format's position scan; Delta
#: with CDF stages the newly deleted rows as change rows, and Iceberg's
#: scan anti-joins the prior tombstones. The last two calls tombstone
#: no new row and commit nothing.
DELETE_JOBS = {
    "lake": [2, 2, 2, 2],
    "delta": [2, 2, 2, 2],
    "delta_cdf": [3, 4, 2, 2],
    "iceberg_v2": [2, 5, 5, 5],
    "iceberg_v3": [2, 3, 3, 3],
}


@pytest.mark.parametrize("variant", sorted(DELETE_JOBS))
def test_delete_where_job_budget_and_noop_commits(spark, tmp_path, variant):
    """DELETE on every merge-on-read path: the applied calls delete
    the matched rows, a DELETE that matches nothing and a repeat of an
    applied DELETE commit nothing (same version returned, same history,
    same rows), and no call runs more Spark jobs than its budget."""
    from aws_glue_data_lake_spark.deltacompat import DeltaTableWriter
    from aws_glue_data_lake_spark.icebergcompat import IcebergTableWriter
    from aws_glue_data_lake_spark.lake import LakeTable

    path = str(tmp_path / variant)
    df = spark.range(200).selectExpr("id AS k", "id % 9 AS grp")
    df = df.repartition(4)
    fmt = variant.split("_")[0]
    if fmt == "lake":
        w = LakeTable(path)
        w.create(df)
    elif fmt == "delta":
        w = DeltaTableWriter(path)
        w.create(df)
        if variant == "delta_cdf":
            w.set_change_data_feed()
    else:
        w = IcebergTableWriter(path)
        w.create(df, format_version=3 if variant == "iceberg_v3" else 2)
    t = open_table(path, fmt)
    versions, counts = [], []

    def delete(cond):
        out = w.delete_where(spark, cond)
        versions.append(getattr(out, "version", out))  # lake: a Snapshot

    for cond in ("k % 9 = 4", "k < 20"):
        counts.append(_count_jobs(spark, lambda: delete(cond)))
    live = sorted(k for k in range(200) if k % 9 != 4 and k >= 20)
    assert sorted(r["k"] for r in t.read(spark).collect()) == live
    history = t.history()
    for cond in ("k = -1", "k % 9 = 4"):
        counts.append(_count_jobs(spark, lambda: delete(cond)))
    assert versions[0] != versions[1]
    assert versions[2:] == [versions[1]] * 2, versions
    assert t.history() == history
    assert sorted(r["k"] for r in t.read(spark).collect()) == live
    assert all(
        n <= cap for n, cap in zip(counts, DELETE_JOBS[variant])
    ), counts


@pytest.mark.parametrize("fmt", ["delta", "iceberg", "lake"])
def test_insert_statement_select_and_values(spark, tmp_path, fmt):
    """INSERT INTO through the front door: a SELECT body (columns by
    name) and a VALUES body (positional), both appending one commit."""
    path = str(tmp_path / fmt)
    t = open_table(path, fmt).create(_mk(spark, [(1, 10), (2, 20)]))
    _mk(spark, [(3, 30), (4, 40)]).createOrReplaceTempView("ins_src")
    sql(spark, f"INSERT INTO {fmt}.`{path}` SELECT k, v FROM ins_src")
    sql(
        spark,
        f"INSERT INTO {fmt}.`{path}` VALUES "
        "(CAST(5 AS LONG), CAST(50 AS LONG))",
    )
    assert sorted(
        (r["k"], r["v"]) for r in t.read(spark).collect()
    ) == [(1, 10), (2, 20), (3, 30), (4, 40), (5, 50)]


def test_insert_missing_column_fails_loudly(spark, tmp_path):
    path = str(tmp_path / "t")
    open_table(path, "delta").create(_mk(spark, [(1, 10)]))
    spark.createDataFrame([(9,)], "k long").createOrReplaceTempView(
        "ins_bad"
    )
    with pytest.raises(ValueError, match="lacks target column"):
        sql(spark, f"INSERT INTO delta.`{path}` SELECT k FROM ins_bad")


def test_optimize_vacuum_describe_history(spark, tmp_path):
    """Maintenance statements as text: OPTIMIZE compacts, VACUUM honors
    RETAIN n VERSIONS and the Delta-SQL RETAIN n HOURS spelling (hours
    map onto versions from commit timestamps — a wide window keeps
    everything, a zero window keeps only the tip), DESCRIBE HISTORY
    returns the snapshots relation."""
    from aws_glue_data_lake_spark.deltacompat import DeltaTableReader

    path = str(tmp_path / "t")
    t = open_table(path, "delta").create(
        _mk(spark, [(1, 10)]).repartition(4)
    )
    t.append(_mk(spark, [(2, 20)]))
    assert sql(spark, f"OPTIMIZE delta.`{path}`") is None
    assert len(DeltaTableReader(path).snapshot().files) == 1
    hist = sql(spark, f"DESCRIBE HISTORY delta.`{path}`")
    ops = [r["operation"] for r in hist.collect()]
    assert "OPTIMIZE" in ops and len(ops) == 3
    # 168 h window: every commit is inside it -> nothing deletable,
    # prior versions stay time-travelable
    assert sql(spark, f"VACUUM delta.`{path}` RETAIN 168 HOURS") is None
    assert t.read(spark, version=0).count() == 1
    # 0 h window: only the tip survives (== RETAIN 1 VERSIONS)
    assert sql(spark, f"VACUUM delta.`{path}` RETAIN 0 HOURS") is None
    assert sql(spark, f"VACUUM delta.`{path}` RETAIN 1 VERSIONS") is None
    # content intact after compact+vacuum
    assert sorted(
        (r["k"], r["v"]) for r in t.read(spark).collect()
    ) == [(1, 10), (2, 20)]


def test_alter_table_constraint_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    t = open_table(path, "delta").create(_mk(spark, [(1, 10)]))
    sql(spark, f"ALTER TABLE delta.`{path}` ADD CONSTRAINT pos CHECK (v > 0)")
    with pytest.raises(ValueError, match="pos"):
        t.append(_mk(spark, [(2, -5)]))
    sql(spark, f"ALTER TABLE delta.`{path}` DROP CONSTRAINT pos")
    t.append(_mk(spark, [(2, -5)]))  # constraint gone
    assert t.read(spark).count() == 2
    sql(
        spark,
        f"ALTER TABLE delta.`{path}` SET TBLPROPERTIES "
        "('custom.owner'='pipeline-a')",
    )
    from aws_glue_data_lake_spark.deltacompat import DeltaTableReader

    conf = DeltaTableReader(path).snapshot().configuration
    assert conf.get("custom.owner") == "pipeline-a"
    with pytest.raises(ValueError, match="unsupported ALTER"):
        sql(spark, f"ALTER TABLE delta.`{path}` RENAME TO other")


def test_table_changes_tvf(spark, tmp_path):
    """delta-spark's table_changes('<t>', start[, end]) TVF rewrites to
    the facade CDF read inside an ordinary SELECT."""
    path = str(tmp_path / "t")
    t = open_table(path, "delta")
    t.create(_mk(spark, [(1, 10), (2, 20)]))
    from aws_glue_data_lake_spark.deltacompat import DeltaTableWriter

    DeltaTableWriter(path).set_change_data_feed(True)
    t.append(_mk(spark, [(3, 30)]))
    t.delete_where(spark, "k = 1")
    got = sql(
        spark,
        f"SELECT _change_type, k FROM table_changes('{path}', 2) "
        "ORDER BY _commit_version, k",
    ).collect()
    assert [(r["_change_type"], r["k"]) for r in got] == [
        ("insert", 3),
        ("delete", 1),
    ]
    # bounded range: only the append commit
    n = sql(
        spark,
        f"SELECT COUNT(*) AS n FROM table_changes('{path}', 2, 2)",
    ).collect()[0]["n"]
    assert n == 1


def test_create_table_using_ctas_and_describe_detail(spark, tmp_path):
    """CREATE TABLE ... USING <fmt> [LOCATION] AS SELECT creates the
    format table AND binds the name; DESCRIBE DETAIL reports the
    table-level facts; IF NOT EXISTS tolerates re-runs; plain CREATE on
    an existing name fails."""
    from aws_glue_data_lake_spark.catalog import binding, resolve_table

    loc = str(tmp_path / "ctas")
    _mk(spark, [(k, k * 2) for k in range(10)]).createOrReplaceTempView(
        "ctas_src"
    )
    sql(
        spark,
        f"CREATE TABLE ctasdb.kv USING delta LOCATION '{loc}' "
        "AS SELECT k, v FROM ctas_src",
    )
    assert binding(spark, "ctasdb.kv") == (loc, "delta")
    assert resolve_table(spark, "ctasdb.kv").read(spark).count() == 10
    # IF NOT EXISTS: silent no-op; plain CREATE: loud
    sql(
        spark,
        f"CREATE TABLE IF NOT EXISTS ctasdb.kv USING delta LOCATION "
        f"'{loc}' AS SELECT k, v FROM ctas_src",
    )
    with pytest.raises(FileExistsError):
        sql(
            spark,
            f"CREATE TABLE ctasdb.kv USING delta LOCATION '{loc}' "
            "AS SELECT k, v FROM ctas_src",
        )
    det = sql(spark, "DESCRIBE DETAIL ctasdb.kv").collect()[0]
    assert det["format"] == "delta" and det["location"] == loc
    assert det["num_files"] >= 1 and det["size_in_bytes"] > 0
    assert det["num_versions"] == 1
    spark.sql("DROP TABLE ctasdb.kv")


def test_create_table_using_partitioned_managed(spark, tmp_path):
    """Managed placement (no LOCATION): data lands under the warehouse
    dir; PARTITIONED BY applies."""
    from aws_glue_data_lake_spark.catalog import resolve_table

    import os
    import shutil

    spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "k long, v long, g string"
    ).createOrReplaceTempView("ctas_src2")
    spark.sql("DROP TABLE IF EXISTS ctasdb.part_kv")
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    managed_dir = os.path.join(warehouse, "ctasdb", "part_kv")
    shutil.rmtree(managed_dir, ignore_errors=True)  # external semantics:
    # DROP leaves data; clean a previous run's leftovers
    try:
        sql(
            spark,
            "CREATE TABLE ctasdb.part_kv USING lake PARTITIONED BY (g) "
            "AS SELECT k, v, g FROM ctas_src2",
        )
        t = resolve_table(spark, "ctasdb.part_kv")
        assert t.format == "lake"
        assert os.path.abspath(t.path) == os.path.abspath(managed_dir)
        got = sorted((r["k"], r["g"]) for r in t.read(spark).collect())
        assert got == [(1, "a"), (2, "b")]
        det = sql(spark, "DESCRIBE DETAIL ctasdb.part_kv").collect()[0]
        assert det["partition_columns"] == ["g"]
    finally:
        spark.sql("DROP TABLE IF EXISTS ctasdb.part_kv")
        shutil.rmtree(managed_dir, ignore_errors=True)


def test_update_assignment_with_quoted_parens_and_commas(
    spark, tmp_path
):
    """ADVICE r13: the top-level comma/paren scanners must skip
    single-quoted literals — an assignment like ``concat(v, '),')``
    would otherwise mis-split (stray paren + quoted comma at what the
    scanner thinks is depth 0) and parse wrongly instead of running."""
    path = str(tmp_path / "t")
    t = open_table(path, "delta").create(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    )
    sql(
        spark,
        f"UPDATE delta.`{path}` "
        "SET v = concat(v, '),'), k = k + 10 WHERE k = 1",
    )
    assert sorted(
        (r["k"], r["v"]) for r in t.read(spark).collect()
    ) == [(2, "b"), (11, "a),")]
    # '' escaping inside a literal: two adjacent literals, same scan
    sql(
        spark,
        f"UPDATE delta.`{path}` SET v = 'it''s (ok,)' WHERE k = 2",
    )
    assert {
        r["v"] for r in t.read(spark).where("k = 2").collect()
    } == {"it's (ok,)"}
