"""IO operators (SURVEY §2.1): round-trips, delimiter sniffing, load
behaviors — the B2-fixture semantics from FIXTURES.md."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neulix_datahub_spark.functions.cleaning import sanitize_columns
from neulix_datahub_spark.sources.io import (
    read_csv,
    read_csv_sniffed,
    read_parquet,
    sniff_delimiter,
    write_csv,
    write_parquet,
    write_table,
)

CONTENT = [(1, "ana", 10.5), (2, "bob", 20.0), (3, "carla", 30.25)]
SCHEMA = "id int, name string, amount double"


@pytest.fixture
def sample(spark):
    return spark.createDataFrame(CONTENT, SCHEMA)


def test_parquet_roundtrip(spark, sample, tmp_path):
    p = write_parquet(sample, str(tmp_path / "t.parquet"))
    got = read_parquet(spark, p)
    assert sorted(got.collect()) == sorted(sample.collect())


@pytest.mark.parametrize("sep", [",", ";", "\t"])
def test_csv_sniffing(spark, tmp_path, sep):
    raw = "id{0}name{0}amount\n1{0}ana{0}10.5\n2{0}bob{0}20.0\n".format(sep)
    path = tmp_path / "data.csv"
    path.write_text(raw)
    assert sniff_delimiter(spark, str(path)) == sep
    df = read_csv_sniffed(spark, str(path))
    assert df.columns == ["id", "name", "amount"]
    assert df.count() == 2


def test_csv_bad_lines_permissive(spark, tmp_path):
    path = tmp_path / "bad.csv"
    path.write_text("id,name,amount\n1,ana,10.5\n2,bob,20.0,EXTRA,FIELDS\n3,carla,30.25\n")
    df = read_csv(spark, str(path))
    assert df.count() == 3  # PERMISSIVE keeps malformed rows (db_core.py:92)


def test_csv_roundtrip_with_sanitizer(spark, tmp_path):
    # B2: first column starts with a digit and carries ç/spaces/()
    path = tmp_path / "dirty.csv"
    path.write_text("1a çol (x),ok name\nv1,v2\n")
    df = sanitize_columns(read_csv(spark, str(path), infer_schema=False))
    assert df.columns == ["col_1a_ol_x", "ok_name"]
    out = write_csv(df, str(tmp_path / "out"))
    got = read_csv(spark, out, infer_schema=False)
    assert got.columns == ["col_1a_ol_x", "ok_name"]
    assert got.first()["ok_name"] == "v2"


def test_write_table_behaviors(spark, sample, tmp_path):
    path = str(tmp_path / "tbl")
    write_table(sample, path, "replace")
    assert read_parquet(spark, path).count() == 3
    write_table(sample, path, "append")
    assert read_parquet(spark, path).count() == 6
    write_table(sample, path, "replace")
    assert read_parquet(spark, path).count() == 3
    with pytest.raises(Exception):
        write_table(sample, path, "fail")  # errorifexists (db_core.py:96-98)
    with pytest.raises(ValueError):
        write_table(sample, path, "nonsense")


def test_write_table_empty_guard(spark, sample, tmp_path):
    path = str(tmp_path / "tbl2")
    write_table(sample, path, "replace")
    empty = sample.filter(F.lit(False))
    write_table(empty, path, "replace")  # skipped, not clobbered (db_core.py:99-101)
    assert read_parquet(spark, path).count() == 3


# --- bucketed co-located join (SCALE.md layout strategy) ----------------------

def test_bucketed_join_has_no_exchange(spark, tmp_path):
    import contextlib
    import io as _io

    from neulix_datahub_spark.sources.bucketing import bucketed_join, write_bucketed
    from tests.conftest import SF_DIR

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "b_orders", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed(lineitem, "b_lineitem", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    prev_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the planner must choose the co-located
        # bucketed sort-merge join (the shape that matters at 100 TB,
        # where neither fact side broadcasts)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "b_orders", "b_lineitem", on=["o_orderkey"])
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, "bucketed join should be shuffle-free"
        # and it still returns the right rows
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_threshold)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_read_parquet_or_empty_missing_path(spark, tmp_path):
    from neulix_datahub_spark.sources.io import read_parquet_or_empty

    out = read_parquet_or_empty(spark, str(tmp_path / "nope"))
    assert out.count() == 0


def test_bulk_load_manifest(spark, tmp_path):
    from neulix_datahub_spark.sources.io import bulk_load

    src = str(tmp_path / "src.parquet")
    spark.range(5).write.parquet(src)
    manifest = {src: str(tmp_path / "dest"), str(tmp_path / "missing.csv"): str(tmp_path / "d2")}
    res = bulk_load(spark, manifest)
    assert res[src] == "ok"
    assert res[str(tmp_path / "missing.csv")].startswith("error:")
    assert spark.read.parquet(str(tmp_path / "dest")).count() == 5


def test_partitioned_parquet_prunes_directories(spark, tmp_path):
    """The date-partitioned layout must (a) round-trip rows including
    the value<->directory encoding of the partition column, and (b)
    PRUNE: a partition-column filter shows up as PartitionFilters on
    the scan and the executed scan reads files ONLY from the matching
    date directories."""
    from neulix_datahub_spark.sources.io import write_partitioned_parquet
    from neulix_datahub_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_parted")
    write_partitioned_parquet(ev, path, ["event_date"])

    # layout: one directory per date
    dirs = sorted(d.name for d in (tmp_path / "events_parted").iterdir()
                  if d.name.startswith("event_date="))
    assert len(dirs) >= 25 and dirs[0] == "event_date=2024-01-01"

    back = spark.read.parquet(path).filter(
        (F.col("event_date") >= F.lit("2024-01-08").cast("date"))
        & (F.col("event_date") <= F.lit("2024-01-14").cast("date"))
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "event_date" in plan.split(
        "PartitionFilters", 1)[1][:200]
    # pruning dropped nothing: equals the unpartitioned filter
    want = ev.filter(
        (F.to_date("ts") >= "2024-01-08") & (F.to_date("ts") <= "2024-01-14")
    ).count()
    assert back.count() == want > 0

    # hard proof the scan never TOUCHES non-matching directories: plant a
    # corrupt file in a pruned-away partition — the filtered query still
    # runs (never reads it), while an unfiltered scan of the same layout
    # fails on it (so absent pruning it WOULD have been read). Schema
    # given explicitly so footer inference doesn't read files either.
    (tmp_path / "events_parted" / "event_date=2024-01-20"
     / "zzz_corrupt.parquet").write_bytes(b"this is not parquet")
    fixed = spark.read.schema(ev.schema).parquet(path)
    week = (F.col("event_date") >= F.lit("2024-01-08").cast("date")) & (
        F.col("event_date") <= F.lit("2024-01-14").cast("date")
    )
    assert fixed.filter(week).count() == want
    with pytest.raises(Exception, match="[Pp]arquet|FAILED_READ_FILE"):
        fixed.count()


def test_orc_roundtrip_types(spark, tmp_path):
    """ORC sink/scan round-trips long/double/string/date/bool exactly."""
    from neulix_datahub_spark.sources.io import read_orc, write_orc

    df = spark.createDataFrame(
        [(1, 2.5, "a", True), (2, -0.125, "b;c", False)],
        "k long, x double, s string, f boolean",
    ).withColumn("d", F.to_date(F.lit("2024-03-01")))
    path = str(tmp_path / "orc")
    write_orc(df, path)
    back = read_orc(spark, path)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_dynamic_partition_pruning_on_date_join(spark, tmp_path):
    """The date-partitioned layout also prunes DYNAMICALLY: joining the
    fact on its partition column against a *filtered* small dim makes
    Spark inject a runtime partition filter (the build side's dates),
    so the fact scan reads only the dim-selected partitions even though
    no literal date predicate exists on the fact side. This is the plan
    shape a calendar/dim-driven 100 TB query relies on."""
    from neulix_datahub_spark.sources.io import write_partitioned_parquet
    from neulix_datahub_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_parted")
    write_partitioned_parquet(ev, path, ["event_date"])
    fact = spark.read.parquet(path)

    date_dim = (
        spark.createDataFrame(
            [(f"2024-01-{d:02d}", "peak" if d in (9, 10) else "off")
             for d in range(1, 31)],
            "ds string, day_kind string",
        )
        .select(F.col("ds").cast("date").alias("event_date"), "day_kind")
    )
    # NB: the dim filter must be "likely selective" for the PartitionPruning
    # rule (equality/IN qualify; a bare boolean attribute does not)
    joined = fact.join(
        F.broadcast(date_dim.filter(F.col("day_kind") == "peak")), "event_date"
    ).groupBy().count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    want = ev.filter(F.to_date("ts").isin("2024-01-09", "2024-01-10")).count()
    assert joined.first()["count"] == want > 0


def test_compact_partitioned_parquet(spark, tmp_path):
    """Compaction rewrites a fragmented date-partitioned layout to
    exactly files_per_partition files per partition with identical
    rows; src==dst is refused."""
    import glob

    from neulix_datahub_spark.sources.io import (
        compact_partitioned_parquet,
        write_partitioned_parquet,
    )
    from neulix_datahub_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    src = str(tmp_path / "frag")
    # fragment: repartition(8) spreads every date over ~8 tasks
    write_partitioned_parquet(ev.repartition(8), src, ["event_date"])
    n_dates = len([d for d in (tmp_path / "frag").iterdir()
                   if d.name.startswith("event_date=")])
    frag_files = len(glob.glob(f"{src}/**/*.parquet", recursive=True))
    assert frag_files > n_dates  # genuinely fragmented

    dst = str(tmp_path / "compact")
    stats = compact_partitioned_parquet(spark, src, dst, ["event_date"])
    assert stats["files_before"] == frag_files
    assert stats["files_after"] == n_dates  # exactly 1 per partition
    assert stats["rows"] == ev.count()
    # per-partition: one file each, content preserved
    for d in (tmp_path / "compact").iterdir():
        if d.name.startswith("event_date="):
            assert len(list(d.glob("*.parquet"))) == 1
    a = spark.read.parquet(src).orderBy("event_id").collect()
    b = spark.read.parquet(dst).orderBy("event_id").collect()
    assert a == b

    with pytest.raises(ValueError, match="dst must differ"):
        compact_partitioned_parquet(spark, src, src, ["event_date"])


def test_layout_clustering_and_bloom_filters(spark, tmp_path):
    """Data-skipping knobs on the partitioned writer: cluster_cols sorts
    rows within each output file (narrow per-row-group min/max => range
    skipping on non-partition filters) and bloom_filter_cols embeds
    parquet bloom filters (observable as a file-size increase for the
    same rows; pyarrow has no bloom read API)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from neulix_datahub_spark.sources.io import write_partitioned_parquet
    from neulix_datahub_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    plain = str(tmp_path / "plain")
    clustered = str(tmp_path / "clustered")
    write_partitioned_parquet(ev, plain, ["event_date"])
    write_partitioned_parquet(
        ev, clustered, ["event_date"],
        cluster_cols=["user_id"], bloom_filter_cols=["user_id"],
    )

    files = glob.glob(f"{clustered}/**/*.parquet", recursive=True)
    assert files
    for f in files[:5]:
        t = pq.read_table(f, columns=["user_id"])
        vals = t.column("user_id").to_pylist()
        assert vals == sorted(vals), f"rows not clustered in {f}"
        md = pq.ParquetFile(f).metadata
        col_idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "user_id"
        )
        st = md.row_group(0).column(col_idx).statistics
        assert st is not None and st.has_min_max  # skipping metadata exists

    # bloom filters really landed: same rows, strictly more bytes
    size = lambda p: sum(  # noqa: E731
        os.path.getsize(f) for f in glob.glob(f"{p}/**/*.parquet", recursive=True)
    )
    assert size(clustered) > size(plain)
    assert spark.read.parquet(clustered).count() == ev.count()


def test_warehouse_scratch_sweeps_stale_siblings(spark):
    import os
    import shutil

    from neulix_datahub_spark.sources.io import warehouse_scratch

    a = warehouse_scratch(spark, "_neulix_scratchtest_")
    assert os.path.isdir(a)
    old = 1_000_000_000.0
    os.utime(a, (old, old))
    b = warehouse_scratch(spark, "_neulix_scratchtest_")
    assert not os.path.isdir(a)  # stale sibling swept
    assert os.path.isdir(b)      # fresh one kept
    c = warehouse_scratch(spark, "_neulix_scratchtest_")
    assert os.path.isdir(b) and os.path.isdir(c)  # fresh siblings survive
    shutil.rmtree(b); shutil.rmtree(c)


def test_overwrite_partitions_is_a_surgical_backfill(spark, tmp_path):
    """Dynamic partition overwrite rewrites ONLY the partitions present
    in the incoming frame; static overwrite would truncate the rest.
    Re-running the same backfill is idempotent."""
    from neulix_datahub_spark.sources.layout import (
        overwrite_partitions,
        write_partitioned,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 3), ("2024-01-03", 4)],
        "day string, v int",
    )
    write_partitioned(base, path, ["day"])

    fix = spark.createDataFrame([("2024-01-02", 30), ("2024-01-02", 31)], "day string, v int")
    overwrite_partitions(fix, path, ["day"])

    def read_back():
        # hive partition-column inference types `day` as date — compare
        # on its string form
        return {
            (r.day, r.v)
            for r in spark.read.parquet(path)
            .select(F.col("day").cast("string").alias("day"), "v")
            .collect()
        }

    got = read_back()
    assert got == {("2024-01-01", 1), ("2024-01-01", 2),
                   ("2024-01-02", 30), ("2024-01-02", 31), ("2024-01-03", 4)}

    # idempotent re-run
    overwrite_partitions(fix, path, ["day"])
    again = read_back()
    assert again == got
    # conf restored
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"


def test_read_json_permissive_quarantines_bad_lines(spark, tmp_path):
    """Malformed JSON lines land in _corrupt_record with typed columns
    null; well-formed lines parse; nothing is silently dropped."""
    from neulix_datahub_spark.sources.io import read_json_permissive

    p = tmp_path / "mixed.json"
    p.write_text(
        '{"id": 1, "v": 2.5}\n'
        "this is not json at all\n"
        '{"id": 2, "v": "not-a-double"}\n'
        '{"id": 3, "v": 9.0}\n'
    )
    df = read_json_permissive(spark, str(p), "id bigint, v double")
    rows = df.collect()
    assert len(rows) == 4  # nothing dropped
    good = {r.id: r.v for r in rows if r._corrupt_record is None}
    bad = [r._corrupt_record for r in rows if r._corrupt_record is not None]
    assert good == {1: 2.5, 3: 9.0}
    assert len(bad) == 2
    assert "not json at all" in bad[0] or "not json at all" in bad[1]
    # type-mismatched row keeps its raw text for forensics
    assert any("not-a-double" in b for b in bad)


def test_zorder_key_bounds_both_columns(spark, tmp_path):
    """Sorting files by the Morton key gives BOTH listed columns
    narrow per-file min/max ranges (the data-skipping contract);
    a lexicographic sort narrows only its first column. Also pins the
    bit interleave against a pure-python reference."""
    from neulix_datahub_spark.sources.layout import zorder_key
    from tests.conftest import SF_DIR

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_partkey", "l_orderkey"
    )
    pk_max = li.agg(F.max("l_partkey"), F.max("l_orderkey")).first()
    bounds = {"l_partkey": (0, pk_max[0]), "l_orderkey": (0, pk_max[1])}

    def widths(df, order_cols, path):
        (df.repartitionByRange(8, *order_cols)
           .sortWithinPartitions(*order_cols)
           .write.mode("overwrite").parquet(path))
        import pyarrow.parquet as pq
        import pathlib
        spans = []
        for f in pathlib.Path(path).glob("part-*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                cols = {row.column(i).path_in_schema: row.column(i).statistics
                        for i in range(row.num_columns)}
                spans.append((
                    cols["l_partkey"].max - cols["l_partkey"].min,
                    cols["l_orderkey"].max - cols["l_orderkey"].min,
                ))
        n = len(spans)
        return (sum(s[0] for s in spans) / n, sum(s[1] for s in spans) / n)

    lex = widths(li, [F.col("l_partkey"), F.col("l_orderkey")],
                 str(tmp_path / "lex"))
    zdf = li.withColumn("__z", zorder_key(bounds, bits=12))
    zo = widths(zdf, [F.col("__z")], str(tmp_path / "zo"))

    full_ok = li.agg(F.max("l_orderkey") - F.min("l_orderkey")).first()[0]
    # lexicographic: orderkey ranges are ~the full span in every file
    assert lex[1] > 0.8 * full_ok
    # z-order: BOTH columns' ranges shrink well below the full span
    assert zo[1] < 0.6 * full_ok
    full_pk = li.agg(F.max("l_partkey") - F.min("l_partkey")).first()[0]
    assert zo[0] < 0.6 * full_pk


def test_write_zordered_roundtrip_and_layout(spark, tmp_path):
    """write_zordered: rows survive exactly, the layout key is dropped
    from the data, and the files split the z-curve (multiple files, each
    covering a narrow slice of BOTH clustered columns)."""
    import pathlib

    import pyarrow.parquet as pq

    from neulix_datahub_spark.sources.layout import write_zordered
    from tests.conftest import SF_DIR

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    b = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_totalprice"), F.max("o_totalprice"),
    ).first()
    bounds = {
        "o_custkey": (float(b[0]), float(b[1])),
        "o_totalprice": (float(b[2]), float(b[3])),
    }
    path = str(tmp_path / "zo")
    write_zordered(orders, path, bounds, bits=10, n_files=8)

    back = spark.read.parquet(path)
    assert sorted(back.columns) == sorted(orders.columns)  # __zorder dropped
    assert back.count() == orders.count()
    assert (
        back.exceptAll(orders).count() == 0 and orders.exceptAll(back).count() == 0
    )

    files = list(pathlib.Path(path).glob("part-*.parquet"))
    assert len(files) == 8
    ck_span = float(b[1]) - float(b[0])
    spans = []
    for f in files:
        md = pq.ParquetFile(str(f)).metadata
        st = {
            md.row_group(0).column(i).path_in_schema: md.row_group(0)
            .column(i)
            .statistics
            for i in range(md.row_group(0).num_columns)
        }
        spans.append(st["o_custkey"].max - st["o_custkey"].min)
    # each file's first row group covers a narrow custkey slice
    assert sum(spans) / len(spans) < 0.7 * ck_span


def test_sniff_delimiter_honors_quoting_and_fails_loudly(spark, tmp_path):
    """A quoted header cell containing a comma must not trick the probe
    into picking ',' for a semicolon-delimited file, and a file no
    candidate can split raises instead of silently guessing ','."""
    import pytest as _pytest

    from neulix_datahub_spark.sources.io import sniff_delimiter

    p = tmp_path / "quoted.csv"
    p.write_text('"last,first";age\n"doe,jane";30\n')
    assert sniff_delimiter(spark, str(p)) == ";"

    single = tmp_path / "single.csv"
    single.write_text("lonely\n1\n2\n")
    with _pytest.raises(ValueError, match="no candidate delimiter"):
        sniff_delimiter(spark, str(single))


def test_update_parquet_table_rejects_unknown_columns(spark, tmp_path):
    """A typo'd set_exprs column fails loudly instead of publishing an
    unchanged table (same policy as snapshots.update_snapshot)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from neulix_datahub_spark.sources.io import update_parquet_table

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, 2.0)], "id int, v double").write.parquet(path)
    with _pytest.raises(ValueError, match="columns the table lacks"):
        update_parquet_table(spark, path, {"vv": F.lit(0.0)})


def test_compact_partitioned_parquet_degenerate_inputs_fail_loudly(
    spark, tmp_path
):
    """files_per_partition < 1 and an all-partition-column request are
    refused with a named error up front — previously pmod-by-0 silently
    NULLed the salt and the zero-arg F.hash() surfaced as an obscure
    AnalysisException."""
    import pytest as _pytest

    from neulix_datahub_spark.sources.io import compact_partitioned_parquet

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "k string, v int"
    ).write.partitionBy("k").parquet(src)
    with _pytest.raises(ValueError, match="files_per_partition"):
        compact_partitioned_parquet(
            spark, src, str(tmp_path / "d1"), ["k"], files_per_partition=0
        )
    with _pytest.raises(ValueError, match="partition column"):
        compact_partitioned_parquet(spark, src, str(tmp_path / "d2"), ["k", "v"])


def test_python_datasource_partitions_and_manifest_lines(spark, tmp_path):
    """IO25 (round 9): the custom Python Data Source delivers each row
    exactly once across its declared partitions at any shard count, the
    rows match the pure-function contract, and the manifest-lines
    source reads one file per partition with line numbering."""
    from neulix_datahub_spark.sources.pysource import (
        register_sources,
        synthetic_doc,
    )

    register_sources(spark)
    for shards in (1, 3, 8):
        df = (
            spark.read.format("neulix_synthetic_corpus")
            .option("rows", "50")
            .option("shards", str(shards))
            .load()
        )
        got = sorted(map(tuple, df.collect()))
        assert got == [synthetic_doc(i) for i in range(50)], shards
        assert df.rdd.getNumPartitions() == shards

    a = tmp_path / "a.txt"
    b = tmp_path / "b.txt"
    a.write_text("x\ny\n")
    b.write_text("z\n")
    m = (
        spark.read.format("neulix_manifest_lines")
        .option("paths", f"{a},{b}")
        .load()
    )
    rows = {(r.path, r.lineno, r.line) for r in m.collect()}
    assert rows == {(str(a), 0, "x"), (str(a), 1, "y"), (str(b), 0, "z")}
    assert m.rdd.getNumPartitions() == 2


def test_python_datasource_writer_two_phase_commit(spark, tmp_path):
    """IO25 writer: per-task temp files promoted by a driver-side
    commit into part-NNNNN.txt + _MANIFEST.json (two-phase output
    commit); no temp debris survives, counts reconcile, and the
    manifest-lines READER round-trips the written content."""
    import json
    import os

    from neulix_datahub_spark.sources.pysource import register_sources

    register_sources(spark)
    d = str(tmp_path / "out")
    df = spark.range(25).selectExpr("cast(id as string) as line").repartition(4)
    (
        df.write.format("neulix_manifest_lines")
        .option("path_dir", d)
        .mode("append")
        .save()
    )
    names = sorted(os.listdir(d))
    assert names == ["_MANIFEST.json", "part-00000.txt", "part-00001.txt",
                     "part-00002.txt", "part-00003.txt"]
    man = json.load(open(os.path.join(d, "_MANIFEST.json")))
    assert man["total_rows"] == 25
    assert sum(man["files"].values()) == 25

    paths = ",".join(os.path.join(d, n) for n in names if n.endswith(".txt"))
    back = (
        spark.read.format("neulix_manifest_lines")
        .option("paths", paths)
        .load()
    )
    assert sorted(int(r.line) for r in back.collect()) == list(range(25))


def test_python_datasource_stream_writer_commit_log(spark, tmp_path):
    """IO25 streaming sink: micro-batches land as batch=<id>/ dirs with
    a _COMMITS ledger; a replayed batch id is dropped instead of
    double-landing (the ledger is the idempotence key); total content
    equals the drained source exactly."""
    import os

    from neulix_datahub_spark.sources.pysource import (
        ManifestLinesStreamWriter,
        _LinesCommit,
        register_sources,
        synthetic_doc,
    )

    register_sources(spark)
    d = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    stream = (
        spark.readStream.format("neulix_synthetic_corpus_stream")
        .option("rows", "100")
        .option("batch", "25")
        .load()
        .selectExpr("text as line")
    )
    q = (
        stream.writeStream.format("neulix_manifest_lines")
        .option("path_dir", d)
        .option("checkpointLocation", ck)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    commits = dict(
        tuple(map(int, line.split()))
        for line in open(os.path.join(d, "_COMMITS")).read().splitlines()
    )
    assert commits == {0: 25, 1: 25, 2: 25, 3: 25}
    lines = sorted(
        line
        for b in os.listdir(d)
        if b.startswith("batch=")
        for f in os.listdir(os.path.join(d, b))
        for line in open(os.path.join(d, b, f)).read().splitlines()
    )
    assert lines == sorted(synthetic_doc(i)[2] for i in range(100))

    # replayed batch id: staged temp is dropped, ledger unchanged
    w = ManifestLinesStreamWriter({"path_dir": d}, overwrite=False)
    tmp = os.path.join(d, ".stage-replay.tmp")
    open(tmp, "w").write("ghost\n")
    w.commit([_LinesCommit(tmp, 1)], batchId=2)
    assert not os.path.exists(tmp)
    commits2 = dict(
        tuple(map(int, line.split()))
        for line in open(os.path.join(d, "_COMMITS")).read().splitlines()
    )
    assert commits2 == commits


def test_manifest_lines_writer_deterministic_and_overwrite(spark, tmp_path):
    """IO25 round-10 hardening: (a) part numbering follows partition id,
    not temp-file UUID, so two writes of the same data land byte-stable
    file names and contents; (b) mode("overwrite") removes a previous,
    larger commit's higher-index part files (no ghost rows for *.txt
    globbers — the manifest and the directory agree)."""
    import json
    import os

    from neulix_datahub_spark.sources.pysource import register_sources

    register_sources(spark)
    d = str(tmp_path / "out")
    df = spark.range(40).selectExpr(
        "cast(id as string) as line", "id % 4 as k"
    ).repartition(4, "k").select("line")

    def _snapshot():
        return {
            n: open(os.path.join(d, n)).read()
            for n in sorted(os.listdir(d)) if n.endswith(".txt")
        }

    (df.write.format("neulix_manifest_lines")
       .option("path_dir", d).mode("overwrite").save())
    first = _snapshot()
    (df.write.format("neulix_manifest_lines")
       .option("path_dir", d).mode("overwrite").save())
    assert _snapshot() == first  # byte-stable re-export

    # shrink: 2 partitions over the same dir with overwrite → stale
    # part-00002/3 are gone and manifest matches the directory
    small = spark.range(6).selectExpr("cast(id as string) as line").repartition(2)
    (small.write.format("neulix_manifest_lines")
       .option("path_dir", d).mode("overwrite").save())
    names = sorted(n for n in os.listdir(d) if n.endswith(".txt"))
    assert names == ["part-00000.txt", "part-00001.txt"]
    man = json.load(open(os.path.join(d, "_MANIFEST.json")))
    assert sorted(man["files"]) == names
    assert man["total_rows"] == 6


def test_manifest_lines_reader_small_file_grouping(spark, tmp_path):
    """IO25 round-10: target_bytes packs many small manifest files into
    few partitions (greedy first-fit in manifest order) with identical
    rows — 100 files must not mean 100 tasks at deployment scale."""
    from neulix_datahub_spark.sources.pysource import register_sources

    register_sources(spark)
    paths = []
    for i in range(100):
        p = tmp_path / f"f{i:03d}.txt"
        p.write_text(f"row {i}\n")
        paths.append(str(p))
    manifest = ",".join(paths)

    ungrouped = (
        spark.read.format("neulix_manifest_lines")
        .option("paths", manifest).load()
    )
    grouped = (
        spark.read.format("neulix_manifest_lines")
        .option("paths", manifest).option("target_bytes", "128").load()
    )
    assert ungrouped.rdd.getNumPartitions() == 100
    assert grouped.rdd.getNumPartitions() <= 8
    assert sorted(map(tuple, grouped.collect())) == sorted(
        map(tuple, ungrouped.collect())
    )


def test_manifest_grouping_unstatable_files_stay_parallel(tmp_path):
    """Round-11 advice fix: files the DRIVER cannot stat (deleted since
    manifest creation, or executor-only visibility) must not silently
    collapse the whole manifest into one serial partition via size=0.
    All-unstat-able degrades to one partition per file (the ungrouped
    parallelism); mixed manifests estimate by the running mean."""
    from neulix_datahub_spark.sources.pysource import ManifestLinesReader

    ghost = [str(tmp_path / f"missing{i}.txt") for i in range(20)]
    r = ManifestLinesReader(
        {"paths": ",".join(ghost), "target_bytes": "1000000"}
    )
    assert len(r.partitions()) == 20

    # mixed: 10 real 100-byte files + 10 ghosts, target 200 — the mean
    # estimate (100) packs ghosts like their stat-able peers: 10 groups,
    # never 1, never 20
    real = []
    for i in range(10):
        p = tmp_path / f"real{i}.txt"
        p.write_bytes(b"x" * 100)
        real.append(str(p))
    mixed = [v for pair in zip(real, ghost[:10]) for v in pair]
    r2 = ManifestLinesReader(
        {"paths": ",".join(mixed), "target_bytes": "200"}
    )
    groups = r2.partitions()
    assert 5 <= len(groups) <= 20
    assert sum(len(g.value) for g in groups) == 20


def test_bpe_segment_pandas_rejects_out_col_collision(spark):
    """Round-11 advice fix: an input already carrying the output column
    name must raise a clear ValueError, not fail downstream inside
    mapInPandas with a duplicate-field schema."""
    import pytest

    from neulix_datahub_spark.operators.bpe import bpe_segment_pandas

    df = spark.createDataFrame([("hi", ["x"])], ["text", "bpe_tokens"])
    with pytest.raises(ValueError, match="bpe_tokens"):
        bpe_segment_pandas(df, [])


def test_synthetic_stream_read_between_offsets(spark):
    """IO25 round-10: readBetweenOffsets replays exactly the committed
    range — the failure-recovery path a checkpoint-restarted query hits
    (the SimpleDataSourceStreamReader default raises)."""
    from neulix_datahub_spark.sources.pysource import (
        SyntheticCorpusStreamReader,
        synthetic_doc,
    )

    r = SyntheticCorpusStreamReader({"rows": "100", "batch": "25"})
    replay = list(r.readBetweenOffsets({"pos": 25}, {"pos": 50}))
    assert replay == [synthetic_doc(i) for i in range(25, 50)]
    # and it agrees with the live read of the same window
    live, nxt = r.read({"pos": 25})
    assert list(live) == replay and nxt == {"pos": 50}


# --- cached Parquet footer schemas (io.parquet_schema) ------------------------

def _jobs_launched(spark, fn):
    """``fn()`` and the ids of the Spark jobs it launched, counted
    through a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"io-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is async
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(df.collect(), key=repr)


def test_load_table_second_load_launches_no_job(spark, tmp_path):
    import shutil

    from pyspark.sql import types as T

    from neulix_datahub_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    shutil.copy(f"{SF_DIR}/events.parquet", tmp_path / "events.parquet")
    first, jobs = _jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs, "the first load infers the footer schema: one job"
    second, jobs = _jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == []
    assert second.schema == first.schema
    assert isinstance(second.schema["ts"].dataType, (T.TimestampType, T.TimestampNTZType))
    assert _rows(second) == _rows(first)


def test_load_table_sees_a_file_rewritten_in_place(spark, tmp_path):
    import pandas as pd

    from neulix_datahub_spark.sources.tables import load_table

    path = tmp_path / "region.parquet"
    pd.DataFrame({"r_regionkey": [0, 1], "r_name": ["a", "b"]}).to_parquet(
        path, index=False)
    assert load_table(spark, str(tmp_path), "region").columns == [
        "r_regionkey", "r_name"]
    pd.DataFrame({"r_regionkey": [0, 1, 2], "r_name": ["a", "b", "c"],
                  "r_extra": [0.5, 1.5, 2.5]}).to_parquet(path, index=False)
    got = load_table(spark, str(tmp_path), "region")
    assert got.columns == ["r_regionkey", "r_name", "r_extra"]
    assert [tuple(r) for r in _rows(got)] == [(0, "a", 0.5), (1, "b", 1.5), (2, "c", 2.5)]


def test_read_snapshot_table_follows_published_schemas(spark, tmp_path):
    """A version a writer just published reads with no job and with the
    schema inference would give; a new column shows up in the next
    version while a pinned old version keeps its own schema, and a root
    rebuilt from scratch (reusing ``v00000001``) is not confused with
    the old one."""
    import shutil

    from neulix_datahub_spark.sources.io import parquet_schema
    from neulix_datahub_spark.sources.snapshots import (
        read_snapshot_table, upsert_snapshot, write_snapshot,
    )

    root = str(tmp_path / "snap")
    v1 = write_snapshot(spark.createDataFrame([(1, "a")], "k long, s string"), root)
    assert read_snapshot_table(spark, root).columns == ["k", "s"]
    updates = spark.createDataFrame(
        [(2, "b", [1.5], {"x": 1})], "k long, s string, w array<double>, m map<string,int>")
    v2 = upsert_snapshot(spark, root, updates, key="k", allow_new_columns=True)
    cur, jobs = _jobs_launched(spark, lambda: read_snapshot_table(spark, root))
    assert jobs == []
    assert cur.schema == spark.read.parquet(f"{root}/{v2}").schema
    assert cur.columns == ["k", "s", "w", "m"]
    assert [(r.k, r.s, r.w) for r in _rows(cur)] == [(1, "a", None), (2, "b", [1.5])]
    assert read_snapshot_table(spark, root, version=v1).columns == ["k", "s"]

    # the recorded schema is the inferred one: non-null columns read nullable
    nn_root = str(tmp_path / "nn")
    nn = write_snapshot(spark.range(2).select("id", F.array("id").alias("a")), nn_root)
    assert parquet_schema(spark, f"{nn_root}/{nn}") == spark.read.parquet(f"{nn_root}/{nn}").schema

    shutil.rmtree(root)
    again = write_snapshot(spark.createDataFrame([(3.0,)], "z double"), root)
    assert again == v1
    assert [tuple(r) for r in read_snapshot_table(spark, root).collect()] == [(3.0,)]


def test_load_table_from_eight_threads(spark, tmp_path):
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    from neulix_datahub_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    names = ("region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events")
    want = {n: load_table(spark, SF_DIR, n).schema for n in names}
    for n in names:
        shutil.copy(f"{SF_DIR}/{n}.parquet", tmp_path / f"{n}.parquet")
    with ThreadPoolExecutor(8) as pool:
        got = list(pool.map(
            lambda n: (n, load_table(spark, str(tmp_path), n).schema), names * 3))
    assert len(got) == 3 * len(names)
    for n, schema in got:
        assert schema == want[n], n


def test_parquet_schema_is_scoped_to_the_session(spark, tmp_path):
    import pandas as pd

    from pyspark.sql import types as T

    from neulix_datahub_spark.sources.io import parquet_schema

    path = str(tmp_path / "b.parquet")
    pd.DataFrame({"b": [b"x", b"y"]}).to_parquet(path, index=False)
    assert parquet_schema(spark, path)["b"].dataType == T.BinaryType()
    other = spark.newSession()
    other.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert parquet_schema(other, path)["b"].dataType == T.StringType()
    assert read_parquet(other, path).collect()[0]["b"] in ("x", "y")
    assert parquet_schema(spark, path)["b"].dataType == T.BinaryType()
