"""Source/sink connector round-trips (SURVEY §2.B: formats beyond the
reference's single local text file)."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_text_roundtrip_with_line_numbers(spark, tmp_path):
    from mapreduce_sm_spark.sources import read_text, write_formatted_text
    from mapreduce_sm_spark.session import table

    docs = table(spark, SF_DIR, "documents").orderBy("doc_id").limit(50)
    out = str(tmp_path / "lines")
    write_formatted_text(docs, "%s", ["text"], out, single_file=True)

    lines = read_text(spark, out, with_line_numbers=True)
    assert lines.count() == 50
    rows = lines.orderBy("line_no").collect()
    want = [r.text for r in docs.collect()]
    assert [r.value for r in rows] == want
    assert [r.line_no for r in rows] == list(range(50))


def test_string_match_formatted_output(spark, tmp_path):
    """The reference's "%d:%s" writer (string_match.c:107-110)."""
    from mapreduce_sm_spark.operators.string_match import string_match
    from mapreduce_sm_spark.sources import write_formatted_text

    df = string_match(spark, SF_DIR).limit(10)
    out = str(tmp_path / "sm")
    write_formatted_text(df, "%d:%s", ["line_no", "line"], out, single_file=True)
    lines = [r.value for r in spark.read.text(out).collect()]
    assert all(":" in l and l.split(":")[0].isdigit() for l in lines)


def test_csv_json_roundtrip(spark, tmp_path):
    from mapreduce_sm_spark.sources import read_csv, read_json, write_csv
    from mapreduce_sm_spark.session import table

    cust = table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    csv_path = str(tmp_path / "cust_csv")
    write_csv(cust, csv_path)
    back = read_csv(spark, csv_path, schema="c_custkey long, c_name string, c_acctbal double")
    assert back.count() == cust.count()
    assert {r.c_custkey for r in back.collect()} == {
        r.c_custkey for r in cust.collect()
    }

    json_path = str(tmp_path / "cust_json")
    cust.write.mode("overwrite").json(json_path)
    back_j = read_json(spark, json_path, schema="c_custkey long, c_name string, c_acctbal double")
    assert back_j.count() == cust.count()


def test_partitioned_parquet_prunes(spark, tmp_path):
    from mapreduce_sm_spark.sources import write_parquet
    from mapreduce_sm_spark.session import table

    docs = table(spark, SF_DIR, "documents")
    out = str(tmp_path / "docs_part")
    write_parquet(docs, out, partition_by=["lang"])

    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # partition pruning: only the lang=en directory is scanned
    assert back.count() == docs.filter(F.col("lang") == "en").count()
    assert "PartitionFilters" in plan


def test_bucketed_table_join_avoids_exchange(spark, tmp_path):
    from mapreduce_sm_spark.sources.sinks import write_bucketed_table
    from mapreduce_sm_spark.session import table

    orders = table(spark, SF_DIR, "orders").select("o_custkey", "o_totalprice")
    name = write_bucketed_table(orders, "orders_bucketed", ["o_custkey"], 8)
    assert name.startswith("orders_bucketed_p")  # pid-scoped (ADVICE r07)

    t = spark.table(name)
    agg = t.groupBy("o_custkey").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    # aggregation on the bucket key needs no shuffle
    assert "Exchange hashpartitioning(o_custkey" not in plan
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_orc_roundtrip(spark, tmp_path):
    from mapreduce_sm_spark.session import table

    src = table(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_orc")
    src.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert sorted(r.n_nationkey for r in back.collect()) == sorted(
        r.n_nationkey for r in src.collect()
    )


def test_two_bucketed_tables_join_shuffle_free(spark, tmp_path):
    """The 100 TB co-location story: both sides bucketed on the join key
    with the same bucket count -> SortMergeJoin with ZERO Exchange."""
    from mapreduce_sm_spark.session import table
    from mapreduce_sm_spark.sources.sinks import write_bucketed_table

    orders = table(spark, SF_DIR, "orders").select("o_custkey", "o_totalprice")
    cust = table(spark, SF_DIR, "customer").select("c_custkey", "c_name")
    t_ord = write_bucketed_table(orders, "t_ord_b", ["o_custkey"], 8, ["o_custkey"])
    t_cust = write_bucketed_table(cust, "t_cust_b", ["c_custkey"], 8, ["c_custkey"])
    # disable broadcast so the join strategy is the bucket-aware SMJ
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table(t_ord).join(
            spark.table(t_cust),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {t_ord}")
        spark.sql(f"DROP TABLE IF EXISTS {t_cust}")


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC write/read parity with parquet, including predicate pushdown
    and column pruning at the vectorized scan."""
    from mapreduce_sm_spark.session import table
    from mapreduce_sm_spark.sources.readers import read_orc
    from mapreduce_sm_spark.sources.sinks import write_orc

    orders = table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path, partition_by=["o_orderpriority"])

    back = read_orc(spark, path)
    assert back.count() == orders.count()

    pruned = back.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_totalprice"
    )
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    # partition pruning on the partition column + pruned read schema
    assert "o_custkey" not in plan.split("ReadSchema")[1].splitlines()[0]
    expected = orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert pruned.count() == expected


def test_orc_roundtrip_stats_registered_query(spark, duck):
    """The registered orc_roundtrip_stats query: predicate reaches the ORC
    scan as a pushed filter, and the rollup matches the parquet oracle."""
    from mapreduce_sm_spark.operators.formats import orc_roundtrip_stats

    df = orc_roundtrip_stats(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln for ln in pushed), plan[:2000]
    got = {r["l_returnflag"]: (r["n_items"], r["total_qty"], r["gross_cents"])
           for r in df.collect()}
    want = {
        f: (n, q, c)
        for f, n, q, c in duck.execute(
            "SELECT l_returnflag, count(*), CAST(sum(l_quantity) AS BIGINT),"
            " CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT)"
            " FROM lineitem WHERE l_shipdate >= DATE '1995-06-01'"
            " GROUP BY l_returnflag"
        ).fetchall()
    }
    assert got == want


def test_bucketed_writer_never_touches_other_pids_dir(spark, tmp_path):
    """Pins the rmtree OWNERSHIP guard (ADVICE r07 / VERDICT r08 item 8):
    write_bucketed_table may only ever reclaim the pid-suffixed dir IT
    owns. Simulate the concurrent-writer layout by planting a foreign
    pid's table directory in the warehouse; after our write (same logical
    table name, twice — the overwrite path runs the rmtree), the foreign
    dir and its contents must be byte-identical."""
    import os

    from mapreduce_sm_spark.session import table
    from mapreduce_sm_spark.sources.sinks import write_bucketed_table

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]
    assert wh, "in-memory catalog still has a warehouse dir"
    foreign = os.path.join(wh, "own_guard_tbl_p99999999")
    os.makedirs(foreign, exist_ok=True)
    sentinel = os.path.join(foreign, "part-00000.parquet")
    with open(sentinel, "wb") as fh:
        fh.write(b"other process's data")

    orders = table(spark, SF_DIR, "orders").select("o_custkey", "o_totalprice")
    try:
        # twice: the second call exercises DROP TABLE + rmtree of OUR dir
        for _ in range(2):
            name = write_bucketed_table(orders, "own_guard_tbl", ["o_custkey"], 4)
            assert name == f"own_guard_tbl_p{os.getpid()}"
            assert spark.table(name).count() == orders.count()
        with open(sentinel, "rb") as fh:
            assert fh.read() == b"other process's data", (
                "ownership guard broken: foreign pid's table dir was clobbered"
            )
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    finally:
        import shutil

        shutil.rmtree(foreign, ignore_errors=True)


def _file_lines(data: bytes) -> list[str]:
    """Lines as Spark's and Hadoop's text readers cut them: split on \\n,
    drop one trailing \\r, no phantom line after a final newline."""
    lines = data.split(b"\n")
    if lines[-1] == b"":
        lines.pop()
    return [ln.removesuffix(b"\r").decode() for ln in lines]


def _numbered(spark, path):
    from mapreduce_sm_spark.sources import read_text

    df = read_text(spark, path, with_line_numbers=True)
    return [(r.line_no, r.value) for r in df.orderBy("line_no").collect()]


def _folder_want(folder) -> list[tuple[int, str]]:
    lines = []
    for f in sorted(folder.iterdir()):
        lines += _file_lines(f.read_bytes())
    return list(enumerate(lines))


@contextmanager
def _confs(spark, **confs):
    """Sets session confs for one block, then restores (or unsets) them."""
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_read_text_folder_numbers_in_path_order(spark, tmp_path):
    """A folder numbers its lines over the files sorted by path, not in
    the filesystem's listing order."""
    folder = tmp_path / "folder"
    folder.mkdir()
    for name in ["c", "a", "b10", "b2"]:
        (folder / name).write_text(
            "".join(f"{name} line {i}\n" for i in range(3))
        )
    assert _numbered(spark, str(folder)) == _folder_want(folder)


def _edge_case_folder(folder):
    """Files that each span many 1 KB splits, with CRLF endings, empty
    lines, a missing trailing newline, and one empty file."""
    import random

    folder.mkdir()
    rnd = random.Random(7)

    def body(n):
        lines = [
            "".join(rnd.choice("ab cd") for _ in range(rnd.randint(0, 70)))
            for _ in range(n)
        ]
        lines[3] = ""
        return lines

    (folder / "lf.txt").write_bytes(("\n".join(body(300)) + "\n").encode())
    (folder / "crlf.txt").write_bytes(("\r\n".join(body(300)) + "\r\n").encode())
    (folder / "no_eol.txt").write_bytes("\n".join(body(300)).encode())
    (folder / "empty.txt").write_bytes(b"")
    for i in range(4):
        (folder / f"small{i}.txt").write_bytes(("\n".join(body(10)) + "\n").encode())


@pytest.mark.parametrize(
    "confs,splits_files",
    [
        ({"spark.sql.files.maxPartitionBytes": "1024"}, True),
        (
            {
                "spark.sql.files.maxPartitionBytes": str(64 << 20),
                "spark.sql.files.openCostInBytes": "1",
                "spark.sql.files.minPartitionNum": "1",
            },
            False,
        ),
    ],
    ids=["split_1k", "packed_64m"],
)
def test_read_text_line_numbers_across_splits(spark, tmp_path, confs, splits_files):
    folder = tmp_path / "edge"
    _edge_case_folder(folder)
    want = _folder_want(folder)
    n_files = sum(1 for f in folder.iterdir() if f.stat().st_size)
    with _confs(spark, **confs):
        n_parts = spark.read.text(str(folder)).rdd.getNumPartitions()
        got = _numbered(spark, str(folder))
    if splits_files:
        assert n_parts > n_files  # files span several scan partitions
    else:
        assert n_parts < n_files  # several files share one scan partition
    assert got == want  # line_no is exactly 0..n-1, each with its line


def test_read_text_line_numbers_plan_is_jvm_only_and_lazy(spark, tmp_path):
    """The numbered frame scans text in the JVM (no RDD, no Python eval)
    and building it starts no Spark job."""
    from mapreduce_sm_spark.sources import read_text

    path = tmp_path / "in.txt"
    path.write_text("x\ny\nz\n")
    tracker = spark.sparkContext.statusTracker()

    def last_job():
        return max(tracker.getJobIdsForGroup(), default=-1)

    before = last_job()
    df = read_text(spark, str(path), with_line_numbers=True)
    assert last_job() == before
    assert df.count() == 3
    assert last_job() > before  # the probe does see the jobs an action starts
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan text" in plan
    for node in ("ExistingRDD", "PythonRDD", "EvalPython"):
        assert node not in plan, plan
