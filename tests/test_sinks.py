"""Sink tests (SURVEY §2.B3-B6): warehouse-table round-trips, predicate
delete semantics, CSV snapshot. JDBC wrappers are call-shape only (no
database in this container).
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from stock_market_etl_spark import sinks
from stock_market_etl_spark.io import load_table


def _dim(spark, sf_smoke):
    return load_table(spark, sf_smoke, "nation")


def test_save_append_and_overwrite(spark, sf_smoke, tmp_path):
    name = f"t_{uuid.uuid4().hex[:8]}"
    dim = _dim(spark, sf_smoke)
    sinks.save_serving_table(dim, name, str(tmp_path / "t1"))
    assert spark.table(name).count() == dim.count()
    sinks.save_serving_table(dim, name, mode="append")
    assert spark.table(name).count() == 2 * dim.count()
    spark.sql(f"DROP TABLE {name}")


def test_delete_where(spark, sf_smoke, tmp_path):
    name = f"t_{uuid.uuid4().hex[:8]}"
    dim = _dim(spark, sf_smoke)
    sinks.save_serving_table(dim, name, str(tmp_path / "t2"))
    n_region0 = dim.filter("n_regionkey = 0").count()
    assert n_region0 > 0
    sinks.delete_where(spark, name, "n_regionkey = 0")
    out = spark.table(name)
    assert out.filter("n_regionkey = 0").count() == 0
    assert out.count() == dim.count() - n_region0
    spark.sql(f"DROP TABLE {name}")


def test_csv_snapshot_roundtrip(spark, sf_smoke, tmp_path):
    dim = _dim(spark, sf_smoke)
    path = str(tmp_path / "snap")
    sinks.csv_snapshot(dim, path)
    back = spark.read.option("header", "true").csv(path)
    assert back.count() == dim.count()
    assert set(back.columns) == set(dim.columns)


def test_write_compacted_bounds_file_count(spark, sf_smoke, tmp_path):
    """A deliberately over-partitioned tiny frame must land in few
    files under REBALANCE (AQE coalesces the shuffle output), while the
    plain write emits one file per task."""
    import glob

    from stock_market_etl_spark import io as eio

    ev = load_table(spark, sf_smoke, "events").repartition(64)
    naive = str(tmp_path / "naive")
    ev.write.mode("overwrite").parquet(naive)
    n_naive = len(glob.glob(naive + "/*.parquet"))
    compacted = str(tmp_path / "compacted")
    eio.write_compacted(ev, compacted)
    n_comp = len(glob.glob(compacted + "/*.parquet"))
    assert n_naive >= 32  # the failure mode is real
    assert n_comp <= 4, n_comp  # ~1 MB of data -> a handful of files

    # partitioned form: rebalance keyed on the partition column
    parted = str(tmp_path / "parted")
    eio.write_compacted(
        ev.withColumn("etype", F.col("event_type")),
        parted,
        partition_cols=("etype",),
    )
    per_dir = {
        d: len(glob.glob(d + "/*.parquet"))
        for d in glob.glob(parted + "/etype=*")
    }
    assert per_dir and all(n <= 2 for n in per_dir.values()), per_dir


# --- A2/B3/B4: real JDBC round-trip against embedded Derby ---------------

DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def test_jdbc_roundtrip_derby(spark, sf_smoke, tmp_path):
    """A2 (load_jdbc) + B3 (jdbc_append) + B4 (jdbc_overwrite) executed
    end-to-end against Derby, the pure-Java embedded RDBMS that ships
    on Spark's own classpath — the same DataFrameWriter.jdbc /
    DataFrameReader.jdbc code paths production uses against Postgres
    (reference `scripts/load_stock_metrics.py:89`, `scripts/app.py:31-44`),
    with only the URL/driver swapped.
    """
    from stock_market_etl_spark.io import load_jdbc

    url = f"jdbc:derby:{tmp_path}/servingdb;create=true"
    dim = _dim(spark, sf_smoke).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n = dim.count()

    # B4: overwrite creates/replaces the table
    sinks.jdbc_overwrite(dim, url, "nation_serving", DERBY_PROPS)
    # B3: append doubles it
    sinks.jdbc_append(dim, url, "nation_serving", DERBY_PROPS)

    # A2: scan back with SQL pushed to the database
    back = load_jdbc(
        spark,
        url,
        # Spark's JDBC writer creates case-preserved (quoted) columns;
        # Derby folds unquoted identifiers to upper-case, so quote them
        'SELECT "n_nationkey", "n_name" FROM nation_serving',
        properties=DERBY_PROPS,
    )
    assert back.count() == 2 * n
    assert set(back.columns) == {"n_nationkey", "n_name"}
    # distinct keys survive the round-trip intact
    want = {r["n_nationkey"] for r in dim.select("n_nationkey").collect()}
    got = {r["n_nationkey"] for r in back.select("n_nationkey").distinct().collect()}
    assert got == want


def test_jdbc_partitioned_scan_derby(spark, sf_smoke, tmp_path):
    """A2 partition-parallel scan: partitionColumn + bounds splits the
    read into parallel range queries (the 100 TB shape: N connections
    each streaming a key range, not one connection streaming the
    table)."""
    from stock_market_etl_spark.io import load_jdbc

    url = f"jdbc:derby:{tmp_path}/scan_db;create=true"
    dim = _dim(spark, sf_smoke).select("n_nationkey", "n_name")
    sinks.jdbc_overwrite(dim, url, "nation_part", DERBY_PROPS)

    back = load_jdbc(
        spark,
        url,
        'SELECT "n_nationkey", "n_name" FROM nation_part',
        partition_column="n_nationkey",
        num_partitions=4,
        lower_bound=0,
        upper_bound=30,
        properties=DERBY_PROPS,
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == dim.count()


def test_load_evolving_merges_schema_versions(spark, tmp_path):
    """A lake whose files span schema versions must read as the union
    schema (old files' late-added columns NULL), and conforming to a
    contract schema must add missing columns as typed NULLs, drop
    extras, and refuse type drift loudly."""
    import pytest
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from stock_market_etl_spark import io as eio

    path = str(tmp_path / "lake")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, name string"
    ).write.mode("append").parquet(path)
    # v2 adds a column
    spark.createDataFrame(
        [(3, "c", 1.5)], "id bigint, name string, score double"
    ).write.mode("append").parquet(path)

    merged = eio.load_evolving(spark, path)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows[1] is None and rows[3] == 1.5

    contract = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
            StructField("lang", StringType()),  # not in lake yet
        ]
    )
    conformed = eio.load_evolving(spark, path, expected=contract)
    assert conformed.columns == ["id", "name", "score", "lang"]
    assert conformed.filter(F.col("lang").isNotNull()).count() == 0

    drift = StructType([StructField("id", StringType())])
    with pytest.raises(TypeError, match="schema drift"):
        eio.load_evolving(spark, path, expected=drift)


def test_jdbc_upsert_idempotent_derby(spark, sf_smoke, tmp_path):
    """B3+B5 composed (jdbc_upsert) EXECUTED against embedded Derby:
    re-running the same increment must leave the serving table
    byte-identical (key-grain delete-then-append = the reference's
    delete-today + insert load, made idempotent), and upserting
    changed values must replace, not duplicate."""
    from stock_market_etl_spark.io import load_jdbc

    url = f"jdbc:derby:{tmp_path}/upsertdb;create=true"
    dim = load_table(spark, sf_smoke, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    sinks.jdbc_append(dim, url, "nation_up", DERBY_PROPS)

    increment = dim.filter(F.col("n_regionkey") == 1).withColumn(
        "n_name", F.concat(F.col("n_name"), F.lit("_v2"))
    )
    for _ in range(2):  # idempotent under replay
        sinks.jdbc_upsert(
            increment, url, "nation_up", ("n_nationkey",), DERBY_PROPS
        )
        back = load_jdbc(
            spark,
            url,
            'SELECT "n_nationkey", "n_name", "n_regionkey" FROM nation_up',
            properties=DERBY_PROPS,
        )
        assert back.count() == dim.count()
        v2 = back.filter(F.col("n_name").endswith("_v2"))
        assert v2.count() == increment.count()

    import pytest

    with pytest.raises(ValueError, match="max_delete_keys"):
        sinks.jdbc_upsert(
            dim, url, "nation_up", ("n_nationkey",), DERBY_PROPS,
            max_delete_keys=2,
        )

def test_jdbc_upsert_date_key_derby(spark, tmp_path):
    """The reference's actual upsert key is a DATE (`DELETE FROM
    stock_metrics WHERE date = :today`). datetime.date cannot cross
    py4j via setObject — _bind_key must route it through
    java.sql.Date. Executed against Derby: date-keyed upsert replaces
    in place and stays idempotent under replay."""
    import datetime

    from stock_market_etl_spark.io import load_jdbc

    url = f"jdbc:derby:{tmp_path}/datedb;create=true"
    d1, d2 = datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)
    base = spark.createDataFrame(
        [(d1, "AAPL", 1.0), (d2, "AAPL", 2.0)], "trade_date date, ticker string, px double"
    )
    sinks.jdbc_append(base, url, "metrics_by_date", DERBY_PROPS)

    increment = spark.createDataFrame(
        [(d2, "AAPL", 9.0)], "trade_date date, ticker string, px double"
    )
    for _ in range(2):
        sinks.jdbc_upsert(
            increment, url, "metrics_by_date", ("trade_date",), DERBY_PROPS
        )
        back = load_jdbc(
            spark,
            url,
            'SELECT "trade_date", "ticker", "px" FROM metrics_by_date',
            properties=DERBY_PROPS,
        ).collect()
        assert len(back) == 2
        assert {r["px"] for r in back if r["trade_date"] == d2} == {9.0}


def test_jdbc_upsert_decimal_key_derby(spark, tmp_path):
    """_bind_key's last untested branch: decimal.Decimal (a DECIMAL
    strike-price key) cannot cross py4j via setObject — it must route
    through java.math.BigDecimal. Executed against Derby: the
    decimal-keyed upsert replaces in place and stays idempotent."""
    from decimal import Decimal

    from stock_market_etl_spark.io import load_jdbc

    url = f"jdbc:derby:{tmp_path}/decdb;create=true"
    k1, k2 = Decimal("100.50"), Decimal("102.25")
    base = spark.createDataFrame(
        [(k1, "AAPL", 10), (k2, "AAPL", 20)],
        "strike decimal(10,2), ticker string, oi int",
    )
    sinks.jdbc_append(base, url, "oi_by_strike", DERBY_PROPS)

    increment = spark.createDataFrame(
        [(k2, "AAPL", 99)], "strike decimal(10,2), ticker string, oi int"
    )
    for _ in range(2):
        sinks.jdbc_upsert(
            increment, url, "oi_by_strike", ("strike",), DERBY_PROPS
        )
        back = load_jdbc(
            spark,
            url,
            'SELECT "strike", "ticker", "oi" FROM oi_by_strike',
            properties=DERBY_PROPS,
        ).collect()
        assert len(back) == 2
        assert {r["oi"] for r in back if r["strike"] == k2} == {99}


def test_jdbc_upsert_authenticated_derby(spark, tmp_path):
    """jdbc_upsert's DELETE half must open its connection with the
    same user/password channel the append half uses — against an
    auth-requiring database a bare getConnection(url) fails. Derby
    BUILTIN auth is enabled at database grain, then the upsert runs
    credentialed end-to-end and a credential-less run is refused."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from stock_market_etl_spark.io import load_jdbc

    db = f"{tmp_path}/authdb"
    jvm = spark._jvm
    jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    conn = jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db};create=true")
    st = conn.createStatement()
    for k, v in [
        ("derby.connection.requireAuthentication", "true"),
        ("derby.authentication.provider", "BUILTIN"),
        ("derby.user.app", "secret"),
        # without propertiesOnly, system-wide (unset) properties can
        # override the database-level ones and auth silently stays off
        ("derby.database.propertiesOnly", "true"),
    ]:
        st.executeUpdate(
            "CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY('%s', '%s')" % (k, v)
        )
    st.close()
    conn.close()
    try:  # auth applies from the next boot of the database
        jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db};shutdown=true")
    except Py4JJavaError:
        pass  # clean shutdown always raises SQLException 08006

    url = f"jdbc:derby:{db}"
    props = dict(DERBY_PROPS, user="app", password="secret")
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    sinks.jdbc_append(dim, url, "auth_up", props)
    inc = spark.createDataFrame([(2, "b2")], "k int, v string")
    sinks.jdbc_upsert(inc, url, "auth_up", ("k",), props)
    back = load_jdbc(
        spark, url, 'SELECT "k", "v" FROM auth_up', properties=props
    ).collect()
    assert {(r["k"], r["v"]) for r in back} == {(1, "a"), (2, "b2")}

    with pytest.raises(Py4JJavaError):  # no credentials → refused
        sinks.jdbc_upsert(inc, url, "auth_up", ("k",), DERBY_PROPS)


def test_jdbc_table_exists_escapes_schema_pattern(spark, tmp_path):
    """ADVICE r09: getTables' schemaPattern is a LIKE pattern, so an
    unescaped schema named A_B also matches sibling schema AXB — a
    table that exists only in AXB must NOT probe true from an A_B
    connection (the cross-schema false positive would route a
    bootstrap batch to an upsert against a missing table)."""
    db = f"{tmp_path}/escdb"
    url = f"jdbc:derby:{db}"
    jvm = spark._jvm
    jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    # user axb → Derby current schema AXB; first DDL creates the schema
    conn = jvm.java.sql.DriverManager.getConnection(
        f"{url};create=true;user=axb"
    )
    st = conn.createStatement()
    st.executeUpdate("CREATE TABLE probe_t (k INT)")
    st.close()
    conn.close()

    # from schema A_B the table must be invisible...
    props_ab = dict(DERBY_PROPS, user="a_b")
    assert not sinks.jdbc_table_exists(spark, url, "probe_t", props_ab)
    # ...and from its own schema, visible
    props_axb = dict(DERBY_PROPS, user="axb")
    assert sinks.jdbc_table_exists(spark, url, "probe_t", props_axb)


def test_write_clustered_footer_bands_disjoint(spark, sf_smoke, tmp_path):
    """write_clustered's pruning claim, verified on the files
    themselves: every output file's parquet footer must carry a
    NARROW ts band, and the bands must be pairwise disjoint
    (repartitionByRange gives each file one contiguous value range).
    That is exactly the property parquet predicate pushdown skips on
    — an unclustered write makes every file span the full range and
    nothing ever skips."""
    import glob

    import pyarrow.parquet as pq

    from stock_market_etl_spark.io import load_table, write_clustered

    ev = load_table(spark, sf_smoke, "events").select("event_id", "ts", "value")
    path = str(tmp_path / "clustered")
    write_clustered(ev, path, ("ts",), num_files=8)

    bands = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        cols = {
            md.row_group(0).column(j).path_in_schema: j
            for j in range(md.row_group(0).num_columns)
        }
        mins, maxs = [], []
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(cols["ts"]).statistics
            assert st is not None and st.has_min_max
            mins.append(st.min)
            maxs.append(st.max)
        bands.append((min(mins), max(maxs)))
    assert len(bands) >= 4  # range partitioner may merge tiny ranges
    bands.sort()
    span = max(b[1] for b in bands) - min(b[0] for b in bands)
    for (lo1, hi1), (lo2, _) in zip(bands, bands[1:]):
        assert hi1 <= lo2, "file ts bands overlap — clustering broken"
    # narrowness: with 8 range files each band must cover well under
    # half the full span (unclustered files would each cover ~all)
    for lo, hi in bands:
        assert (hi - lo) <= span / 2


def test_write_zordered_box_skipping(spark, sf_smoke, tmp_path):
    """write_zordered's 2-D pruning claim, verified on the files: each
    output file's footer must carry a min/max BOX in (user_id, ts)
    narrow enough that a small query box skips a real fraction of the
    files ON EITHER AXIS — a 1-D ts-clustered layout can never skip on
    user_id, and an unclustered layout skips on neither."""
    import glob
    from datetime import timedelta

    import pyarrow.parquet as pq

    from stock_market_etl_spark.io import load_table, write_zordered

    ev = load_table(spark, sf_smoke, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    path = str(tmp_path / "zordered")
    write_zordered(ev, path, "user_id", "ts", num_files=8)

    boxes = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        cols = {
            md.row_group(0).column(j).path_in_schema: j
            for j in range(md.row_group(0).num_columns)
        }
        ulo = uhi = tlo = thi = None
        for i in range(md.num_row_groups):
            su = md.row_group(i).column(cols["user_id"]).statistics
            st = md.row_group(i).column(cols["ts"]).statistics
            assert su.has_min_max and st.has_min_max
            ulo = su.min if ulo is None else min(ulo, su.min)
            uhi = su.max if uhi is None else max(uhi, su.max)
            tlo = st.min if tlo is None else min(tlo, st.min)
            thi = st.max if thi is None else max(thi, st.max)
        boxes.append((ulo, uhi, tlo, thi))
    assert len(boxes) >= 4

    u_all = (min(b[0] for b in boxes), max(b[1] for b in boxes))
    t_all = (min(b[2] for b in boxes), max(b[3] for b in boxes))
    # query box: bottom quarter of users x first quarter of time
    u_q = (u_all[0], u_all[0] + (u_all[1] - u_all[0]) // 4)
    t_span = t_all[1] - t_all[0]
    t_q = (t_all[0], t_all[0] + timedelta(seconds=t_span.total_seconds() / 4))
    hit = [
        b
        for b in boxes
        if not (b[1] < u_q[0] or b[0] > u_q[1] or b[3] < t_q[0] or b[2] > t_q[1])
    ]
    # a quarter x quarter box over a Morton layout must miss SOME
    # files (both-axis skipping); 1-D ts clustering would make every
    # user-range predicate hit every file
    assert len(hit) < len(boxes), (len(hit), len(boxes))


def test_snapshot_time_travel_semantics(spark, sf_smoke, tmp_path):
    """b18's snapshot model: version numbering is monotonic, each
    version reads exactly its committed cumulative file set, an old
    version's read is BYTE-STABLE after later appends (the pinned-
    release property), and a crashed commit (data files, no manifest)
    is an explicit error, never an empty or partial frame."""
    import os

    import pytest as _pytest

    from stock_market_etl_spark.io import commit_snapshot, read_snapshot

    ev = load_table(spark, sf_smoke, "events").select("event_id", "user_id")
    table = str(tmp_path / "table")
    a = ev.filter(F.col("event_id") % 3 == 0)
    b = ev.filter(F.col("event_id") % 3 == 1)
    c = ev.filter(F.col("event_id") % 3 == 2)

    assert commit_snapshot(spark, table, a) == 1
    v1_first = sorted(r["event_id"] for r in read_snapshot(spark, table, 1).collect())
    assert commit_snapshot(spark, table, b) == 2
    assert commit_snapshot(spark, table, c) == 3

    # each snapshot = cumulative commits at that point
    assert sorted(
        r["event_id"] for r in read_snapshot(spark, table, 1).collect()
    ) == v1_first
    v2 = sorted(r["event_id"] for r in read_snapshot(spark, table, 2).collect())
    assert v2 == sorted(r["event_id"] for r in a.union(b).collect())
    v3 = sorted(r["event_id"] for r in read_snapshot(spark, table, 3).collect())
    assert v3 == sorted(r["event_id"] for r in ev.collect())

    # crash simulation: data files land but the manifest never commits
    # → reading that version errors (no silent partial data)
    os.remove(os.path.join(table, "_v3.manifest.json"))
    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, 3)
    # earlier snapshots are untouched by the crash
    assert sorted(
        r["event_id"] for r in read_snapshot(spark, table, 2).collect()
    ) == v2
    # the next commit after the crash reuses the orphaned version slot
    # or moves past it — either way it must commit and read cleanly
    v_next = commit_snapshot(spark, table, c)
    got = sorted(
        r["event_id"] for r in read_snapshot(spark, table, v_next).collect()
    )
    assert got == v3


def test_snapshot_increment_read_semantics(spark, sf_smoke, tmp_path):
    """b19's incremental consumer: v(i)→v(j) reads exactly the rows
    committed in between, from_version=0 bootstraps to the full
    snapshot, and an empty increment refuses loudly (a silently-empty
    incremental read would let a consumer mark a version processed
    while having read nothing)."""
    import pytest as _pytest

    from stock_market_etl_spark.io import commit_snapshot, read_increment

    ev = load_table(spark, sf_smoke, "events").select("event_id")
    table = str(tmp_path / "table")
    parts = [ev.filter(F.col("event_id") % 3 == k) for k in range(3)]
    for p in parts:
        commit_snapshot(spark, table, p)

    inc = sorted(
        r["event_id"] for r in read_increment(spark, table, 1, 3).collect()
    )
    assert inc == sorted(
        r["event_id"] for r in parts[1].union(parts[2]).collect()
    )
    boot = sorted(
        r["event_id"] for r in read_increment(spark, table, 0, 3).collect()
    )
    assert boot == sorted(r["event_id"] for r in ev.collect())
    with _pytest.raises(ValueError):
        read_increment(spark, table, 2, 2)


def test_cow_delete_prunes_files_and_keeps_history(spark, sf_smoke, tmp_path):
    """b20's copy-on-write delete: files with no matching rows carry
    over BY REFERENCE (identical paths across versions — zero bytes
    moved), match-bearing files are rewritten without the deleted
    rows, the pre-delete snapshot still reads its full content, a
    NULL-predicate row is NOT deleted, and deleting against an empty
    table refuses."""
    import json
    import os

    import pytest as _pytest

    from stock_market_etl_spark.io import (
        commit_snapshot,
        delete_where_snapshot,
        read_snapshot,
    )

    ev = load_table(spark, sf_smoke, "events").select(
        "event_id", "user_id", "event_type"
    )
    table = str(tmp_path / "table")
    # commit 1: only 'view' rows (no 'error' anywhere → clean files);
    # commit 2: everything else (holds every 'error' row)
    commit_snapshot(spark, table, ev.filter(F.col("event_type") == "view"))
    commit_snapshot(spark, table, ev.filter(F.col("event_type") != "view"))

    def _files(v):
        with open(os.path.join(table, f"_v{v}.manifest.json")) as fh:
            return set(json.load(fh)["files"])

    before = sorted(r["event_id"] for r in read_snapshot(spark, table, 2).collect())
    v3 = delete_where_snapshot(spark, table, F.col("event_type") == "error")
    assert v3 == 3

    # v1's clean files carried over by reference; v2's files rewritten
    assert _files(1) <= _files(3)
    assert not (_files(2) - _files(1)) & _files(3)

    got = sorted(r["event_id"] for r in read_snapshot(spark, table, 3).collect())
    want = sorted(
        r["event_id"]
        for r in ev.filter(F.col("event_type") != "error").collect()
    )
    assert got == want
    # pre-delete snapshot unchanged (time travel across the delete)
    assert sorted(
        r["event_id"] for r in read_snapshot(spark, table, 2).collect()
    ) == before

    # NULL predicate result = not deleted (both sides of the split)
    v4 = delete_where_snapshot(
        spark, table, F.when(F.col("event_type") == "view", True)
    )
    left = {r["event_type"] for r in read_snapshot(spark, table, v4).collect()}
    assert "view" not in left and left  # non-view rows all survived

    with _pytest.raises(ValueError):
        delete_where_snapshot(
            spark, str(tmp_path / "empty"), F.lit(True)
        )


def test_cow_upsert_semantics(spark, sf_smoke, tmp_path):
    """b21's MERGE: matched keys replace, new keys append, re-merging
    the identical batch is idempotent at the latest-content grain,
    clean files carry over by reference, and the pre-merge snapshot
    reads its original content."""
    import json
    import os

    from stock_market_etl_spark.io import (
        commit_snapshot,
        read_snapshot,
        upsert_snapshot,
    )

    ev = load_table(spark, sf_smoke, "events").select("event_id", "value")
    table = str(tmp_path / "table")
    low = ev.filter(F.col("event_id") < 100)
    high = ev.filter(F.col("event_id") >= 100)
    commit_snapshot(spark, table, low)
    commit_snapshot(spark, table, high)

    def _files(v):
        with open(os.path.join(table, f"_v{v}.manifest.json")) as fh:
            return set(json.load(fh)["files"])

    def _content(v):
        return {
            (r["event_id"], r["value"])
            for r in read_snapshot(spark, table, v).collect()
        }

    before = _content(2)
    # restate some low keys + append brand-new keys
    updates = low.filter(F.col("event_id") < 50).withColumn(
        "value", F.lit(-1.0)
    ).unionByName(
        spark.createDataFrame(
            [(10_000_001, 7.0), (10_000_002, 8.0)], ["event_id", "value"]
        )
    )
    v3 = upsert_snapshot(spark, table, updates, keys=("event_id",))
    want = {
        (i, v) for i, v in before if not (i < 50)
    } | {(i, -1.0) for i, _ in before if i < 50} | {
        (10_000_001, 7.0), (10_000_002, 8.0),
    }
    assert _content(v3) == want
    # the high-key files had no matches: carried over by reference
    assert (_files(2) - _files(1)) <= _files(3)
    # pre-merge snapshot unchanged
    assert _content(2) == before
    # idempotent re-merge: same latest content (a new version, but
    # byte-equal rows)
    v4 = upsert_snapshot(spark, table, updates, keys=("event_id",))
    assert _content(v4) == want


def test_cow_ops_on_uri_encodable_path(spark, sf_smoke, tmp_path):
    """ADVICE r09 (medium): input_file_name() returns a URL-ENCODED
    URI, so a table path containing a space or '%' used to match no
    manifest file — the delete silently no-opped (rows survived under
    a 'successful' new version) and the upsert kept the old rows next
    to the updates, duplicating keys. The decode fix must make both
    operate correctly on such paths."""
    from stock_market_etl_spark.io import (
        commit_snapshot,
        delete_where_snapshot,
        read_snapshot,
        upsert_snapshot,
    )

    ev = load_table(spark, sf_smoke, "events").select(
        "event_id", "value"
    ).filter(F.col("event_id") < 200)
    table = str(tmp_path / "odd %dir name" / "table")
    commit_snapshot(spark, table, ev)

    v2 = delete_where_snapshot(spark, table, F.col("event_id") < 50)
    got = {r["event_id"] for r in read_snapshot(spark, table, v2).collect()}
    want = {r["event_id"] for r in ev.filter(F.col("event_id") >= 50).collect()}
    assert got == want  # the delete really happened

    updates = spark.createDataFrame(
        [(100, -1.0), (9_999_999, 5.0)], "event_id long, value double"
    )
    if 100 in want:
        v3 = upsert_snapshot(spark, table, updates, keys=("event_id",))
        rows = read_snapshot(spark, table, v3).collect()
        ids = [r["event_id"] for r in rows]
        assert ids.count(100) == 1  # replaced, not duplicated
        assert {r["value"] for r in rows if r["event_id"] == 100} == {-1.0}
        assert 9_999_999 in ids


def test_compact_snapshot_semantics(spark, sf_smoke, tmp_path):
    """b22's compaction step: content is row-identical across the
    compaction, the new manifest references ONLY new files, prior
    versions still read their original files (time travel across a
    compaction), file count actually shrinks, a crashed compaction
    (data written, no manifest) leaves the table readable at the old
    version, and compacting an empty table refuses."""
    import glob
    import json
    import os

    import pytest as _pytest

    from stock_market_etl_spark.io import (
        commit_snapshot,
        compact_snapshot,
        read_snapshot,
    )

    ev = load_table(spark, sf_smoke, "events").select("event_id", "value")
    table = str(tmp_path / "table")
    # many small commits → many small files
    for m in range(4):
        commit_snapshot(
            spark, table, ev.filter(F.col("event_id") % 4 == m)
        )

    def _files(v):
        with open(os.path.join(table, f"_v{v}.manifest.json")) as fh:
            return set(json.load(fh)["files"])

    before = sorted(
        (r["event_id"], r["value"])
        for r in read_snapshot(spark, table, 4).collect()
    )
    v5 = compact_snapshot(spark, table, num_files=2)
    assert v5 == 5
    # content preserved exactly; file count shrank; no old files
    after = sorted(
        (r["event_id"], r["value"])
        for r in read_snapshot(spark, table, 5).collect()
    )
    assert after == before
    assert len(_files(5)) <= 2 < len(_files(4))
    assert not _files(5) & _files(4)
    # prior version still reads its original content (time travel)
    assert sorted(
        (r["event_id"], r["value"])
        for r in read_snapshot(spark, table, 4).collect()
    ) == before

    # crash path: simulate a compaction that wrote data but died
    # before the manifest publish — the orphan directory must not
    # change what any reader sees, and the NEXT compaction (version
    # collision-free by the uuid attempt dir) succeeds
    orphan = os.path.join(table, "data", "v6-deadbeef")
    ev.limit(5).write.parquet(orphan)
    assert sorted(
        (r["event_id"], r["value"])
        for r in read_snapshot(spark, table, 5).collect()
    ) == before
    v6 = compact_snapshot(spark, table, num_files=1)
    assert v6 == 6
    assert sorted(
        (r["event_id"], r["value"])
        for r in read_snapshot(spark, table, 6).collect()
    ) == before
    # the orphan's files were never referenced by any manifest
    all_manifest_files = set().union(*(_files(v) for v in range(1, 7)))
    orphan_files = set(glob.glob(os.path.join(orphan, "*.parquet")))
    assert not orphan_files & all_manifest_files

    with _pytest.raises(ValueError):
        compact_snapshot(spark, str(tmp_path / "empty"))


def test_vacuum_snapshots_semantics(spark, sf_smoke, tmp_path):
    """The reclamation half of the lifecycle (io.vacuum_snapshots):
    dry_run deletes nothing; a real vacuum keeps the newest N
    versions readable BYTE-IDENTICALLY (copy-on-write carry-over
    files shared with retained versions survive), deletes dropped
    manifests + exclusively-referenced data files + crash orphans,
    truncated history reads as a loud error, and keep_versions
    validation refuses nonsense."""
    import os

    import pytest as _pytest

    from stock_market_etl_spark.io import (
        commit_snapshot,
        delete_where_snapshot,
        read_snapshot,
        vacuum_snapshots,
    )

    ev = load_table(spark, sf_smoke, "events").select(
        "event_id", "event_type"
    )
    table = str(tmp_path / "table")
    commit_snapshot(spark, table, ev.filter(F.col("event_id") % 2 == 0))
    commit_snapshot(spark, table, ev.filter(F.col("event_id") % 2 == 1))
    # CoW delete: v3 rewrites match-bearing files, carries clean ones
    v3 = delete_where_snapshot(
        spark, table, F.col("event_type") == "error"
    )
    # crash orphan: data written, no manifest
    orphan = os.path.join(table, "data", "v9-deadbeef")
    ev.limit(3).write.parquet(orphan)
    want = sorted(
        r["event_id"] for r in read_snapshot(spark, table, v3).collect()
    )

    # default min_file_age guard: everything here is seconds old, so
    # a default-config vacuum must reclaim NOTHING (the in-flight-
    # commit defense — young unreferenced files look like live writes)
    rep = vacuum_snapshots(table, keep_versions=1, dry_run=True)
    assert rep["deleted_files"] == 0

    rep = vacuum_snapshots(
        table, keep_versions=1, dry_run=True, min_file_age_seconds=0
    )
    assert rep["kept_versions"] == [3]
    assert rep["deleted_files"] > 0
    # dry run deleted nothing: v1 still reads
    assert read_snapshot(spark, table, 1).count() > 0

    rep = vacuum_snapshots(table, keep_versions=1, min_file_age_seconds=0)
    assert rep["deleted_manifests"] == 2
    # retained version reads identically (incl. carried-over files)
    got = sorted(
        r["event_id"] for r in read_snapshot(spark, table, v3).collect()
    )
    assert got == want
    # truncated history is a loud error, not silent empty data
    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, 1)
    # orphan directory gone
    assert not os.path.exists(orphan) or not os.listdir(orphan)
    # every remaining data file is referenced by the kept manifest
    import json as _json

    with open(os.path.join(table, "_v3.manifest.json")) as fh:
        live = {os.path.abspath(f) for f in _json.load(fh)["files"]}
    on_disk = {
        os.path.abspath(os.path.join(dp, f))
        for dp, _, fs in os.walk(os.path.join(table, "data"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == live

    with _pytest.raises(ValueError):
        vacuum_snapshots(table, keep_versions=0)
    with _pytest.raises(ValueError):
        vacuum_snapshots(str(tmp_path / "empty"))


def test_txn_commit_idempotence_marker_and_fallback(
    spark, sf_smoke, tmp_path
):
    """commit_snapshot(txn_id=...) exactly-once semantics: a repeated
    txn returns the original version without committing; the O(1)
    marker fast path exists after a txn commit; LOSING the marker
    (crash between manifest link and marker link) degrades to the
    manifest scan but idempotence still holds; vacuum drops markers
    for truncated versions so a stale marker can't resurrect a
    vacuumed version."""
    import os

    from stock_market_etl_spark.io import (
        _latest_version,
        _txn_marker_path,
        _txn_version,
        commit_snapshot,
        read_snapshot,
        vacuum_snapshots,
    )

    ev = load_table(spark, sf_smoke, "events").select("event_id", "value")
    table = str(tmp_path / "table")
    v1 = commit_snapshot(spark, table, ev.limit(10), txn_id="batch-0")
    assert v1 == 1
    marker = _txn_marker_path(table, "batch-0")
    assert os.path.exists(marker)

    # repeat txn: same version back, nothing committed
    v_again = commit_snapshot(spark, table, ev.limit(99), txn_id="batch-0")
    assert v_again == 1 and _latest_version(table) == 1
    assert read_snapshot(spark, table, 1).count() == 10

    # crash-lost marker: scan fallback still finds the txn
    os.remove(marker)
    assert _txn_version(table, "batch-0") == 1
    v_again = commit_snapshot(spark, table, ev.limit(99), txn_id="batch-0")
    assert v_again == 1 and _latest_version(table) == 1

    # new txns append; vacuum drops markers below the retention floor
    commit_snapshot(spark, table, ev.limit(5), txn_id="batch-1")
    commit_snapshot(spark, table, ev.limit(5), txn_id="batch-2")
    vacuum_snapshots(table, keep_versions=1, min_file_age_seconds=0)
    assert not os.path.exists(_txn_marker_path(table, "batch-1"))
    assert os.path.exists(_txn_marker_path(table, "batch-2"))
    assert _txn_version(table, "batch-1") is None
    assert _txn_version(table, "batch-2") == 3


def test_commit_manifest_refuses_concurrent_version(tmp_path):
    """ADVICE r09: the snapshot commit point is create-if-absent, not
    a clobbering rename — a second writer racing to the same version
    must fail loudly, and the winner's manifest must survive intact."""
    import json
    import os

    import pytest as _pytest

    from stock_market_etl_spark.io import _commit_manifest

    table = str(tmp_path / "t")
    os.makedirs(table)
    _commit_manifest(table, 1, ["a.parquet"])
    with _pytest.raises(RuntimeError, match="concurrent commit"):
        _commit_manifest(table, 1, ["b.parquet"])
    with open(os.path.join(table, "_v1.manifest.json")) as fh:
        assert json.load(fh)["files"] == ["a.parquet"]
    # no tmp litter left behind by either attempt
    assert not [f for f in os.listdir(table) if f.endswith(".tmp")]


def test_commit_snapshot_threaded_writer_race(spark, sf_smoke, tmp_path):
    """VERDICT r09 task 4: a REAL two-writer race on commit_snapshot —
    the sequential test above proves the link(2) primitive refuses a
    clobber; this one proves the end-to-end protocol under actual
    thread interleaving. Both writers are forced (via a barrier inside
    a wrapped _commit_manifest) to compute prev=N before either
    publishes, so both race to version N+1: exactly one wins, the
    loser sees the loud RuntimeError and retries the whole
    commit_snapshot against the new latest, landing at N+2 — and BOTH
    writers' rows survive in the final snapshot. Repeated 3× (fresh
    table each time) to shake scheduling luck."""
    import json
    import os
    import threading

    from stock_market_etl_spark import io as io_mod
    from stock_market_etl_spark.io import (
        _latest_version,
        commit_snapshot,
        read_snapshot,
    )

    ev = load_table(spark, sf_smoke, "events").select("event_id", "user_id")
    base = ev.filter(F.col("event_id") % 3 == 0)
    rows_a = ev.filter(F.col("event_id") % 3 == 1)
    rows_b = ev.filter(F.col("event_id") % 3 == 2)
    n_base, n_a, n_b = base.count(), rows_a.count(), rows_b.count()

    real_commit = io_mod._commit_manifest

    for attempt in range(3):
        table = str(tmp_path / f"race{attempt}")
        commit_snapshot(spark, table, base)  # v1, committed calmly

        barrier = threading.Barrier(2, timeout=30)
        seen_barrier = threading.local()
        errors: list[Exception] = []

        def synced_commit(*args, **kwargs):
            # hold each thread's FIRST publish at the barrier so both
            # have read prev=1 before either links; retries pass through
            if not getattr(seen_barrier, "done", False):
                seen_barrier.done = True
                try:
                    barrier.wait()
                except threading.BrokenBarrierError:
                    pass
            return real_commit(*args, **kwargs)

        def writer(df):
            try:
                try:
                    commit_snapshot(spark, table, df)
                except RuntimeError:
                    # loud loss — retry against the new latest (the
                    # documented caller protocol)
                    commit_snapshot(spark, table, df)
            except Exception as exc:  # pragma: no cover - fail loudly
                errors.append(exc)

        io_mod._commit_manifest = synced_commit
        try:
            threads = [
                threading.Thread(target=writer, args=(df,))
                for df in (rows_a, rows_b)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            io_mod._commit_manifest = real_commit

        assert not errors, errors
        # exactly one winner at v2, the loser retried into v3
        assert _latest_version(table) == 3
        # every snapshot's file set is a superset of its parent's
        # (append-only), and both writers' rows survive in v3
        manifests = []
        for v in (1, 2, 3):
            with open(
                os.path.join(table, f"_v{v}.manifest.json")
            ) as fh:
                manifests.append(set(json.load(fh)["files"]))
        assert manifests[0] < manifests[1] < manifests[2]
        assert read_snapshot(spark, table, 3).count() == n_base + n_a + n_b
        assert read_snapshot(spark, table, 1).count() == n_base


def test_snapshot_stats_skipping_semantics(spark, sf_smoke, tmp_path):
    """VERDICT r09 task 2 — manifest-level file statistics + data
    skipping: commits with stat_columns record per-file footer bands;
    read_snapshot(predicate=...) must (a) scan ONLY band-matching
    files, (b) return exactly what the plain filter returns, (c) keep
    working across CoW upsert and compaction (stats carry/recompute),
    and (d) never depend on stats for correctness (stripped stats ⇒
    same rows, just no pruning)."""
    import json
    import os

    from stock_market_etl_spark.io import (
        commit_snapshot,
        compact_snapshot,
        read_snapshot,
        upsert_snapshot,
    )

    ev = load_table(spark, sf_smoke, "events").select(
        "event_id", "user_id", F.round("value", 6).alias("value")
    )
    n = ev.agg(F.max("event_id")).collect()[0][0]
    qs = [0, n // 4, n // 2, (3 * n) // 4, n]
    table = str(tmp_path / "t")
    for lo, hi in zip(qs, qs[1:]):
        v = commit_snapshot(
            spark,
            table,
            ev.filter((F.col("event_id") > lo) & (F.col("event_id") <= hi)),
            stat_columns=["event_id"],
        )

    with open(os.path.join(table, f"_v{v}.manifest.json")) as fh:
        manifest = json.load(fh)
    assert manifest["stat_columns"] == ["event_id"]
    # every committed file carries an event_id band
    assert set(manifest["stats"]) == set(manifest["files"])

    pred = [("event_id", "between", (qs[1] + 1, qs[2]))]
    pruned = read_snapshot(spark, table, v, predicate=pred)
    expected = ev.filter(
        (F.col("event_id") > qs[1]) & (F.col("event_id") <= qs[2])
    )
    # (a) only slice-2's files are scanned — strictly fewer than the
    # manifest lists, and every survivor's band intersects the range
    scanned = set(pruned.inputFiles())
    assert 0 < len(scanned) < len(manifest["files"])
    for f in manifest["files"]:
        band = manifest["stats"][f]["event_id"]
        intersects = band["max"] >= qs[1] + 1 and band["min"] <= qs[2]
        assert (
            any(f.endswith(os.path.basename(s)) for s in scanned)
            == intersects
        )
    # (b) row-identical to the plain filter
    assert (
        sorted(r["event_id"] for r in pruned.collect())
        == sorted(r["event_id"] for r in expected.collect())
    )

    # (c) stats survive CoW upsert (carried files keep bands, new
    # files get computed ones) and compaction (full recompute)
    restated = ev.filter(F.col("event_id") <= qs[1]).withColumn(
        "value", F.round(F.col("value") * 2, 6)
    )
    v_up = upsert_snapshot(spark, table, restated, keys=("event_id",))
    v_cp = compact_snapshot(spark, table, num_files=2)
    for vv in (v_up, v_cp):
        with open(os.path.join(table, f"_v{vv}.manifest.json")) as fh:
            m = json.load(fh)
        assert m["stat_columns"] == ["event_id"]
        assert set(m["stats"]) == set(m["files"])
        got = read_snapshot(spark, table, vv, predicate=pred)
        assert (
            sorted(r["event_id"] for r in got.collect())
            == sorted(r["event_id"] for r in expected.collect())
        )
    # untouched slice files carried into v_up by REFERENCE with their
    # stats entries intact (no recompute, byte-identical band dicts)
    with open(os.path.join(table, f"_v{v_up}.manifest.json")) as fh:
        m_up = json.load(fh)
    carried = set(m_up["files"]) & set(manifest["files"])
    assert carried  # the three clean slices
    for f in carried:
        assert m_up["stats"][f] == manifest["stats"][f]

    # (d) stats stripped ⇒ no pruning, same rows (safety property)
    bare = dict(manifest, stats={})
    with open(os.path.join(table, f"_v{v}.manifest.json"), "w") as fh:
        json.dump(bare, fh)
    unpruned = read_snapshot(spark, table, v, predicate=pred)
    assert len(set(unpruned.inputFiles())) == len(manifest["files"])
    assert (
        sorted(r["event_id"] for r in unpruned.collect())
        == sorted(r["event_id"] for r in expected.collect())
    )

    # empty prune keeps the snapshot's schema, returns zero rows
    nothing = read_snapshot(
        spark, table, v, predicate=[("event_id", ">", n * 10)]
    )
    assert nothing.columns == ["event_id", "user_id", "value"]
    assert nothing.count() == 0


def test_file_may_match_band_logic():
    """Pure-function truth table for the manifest prune check: every
    op against a [10, 20] int band, plus the never-prune safety rails
    (missing stats, missing column, incomparable literal)."""
    from stock_market_etl_spark.io import _file_may_match

    band = {"event_id": {"t": "int", "min": 10, "max": 20}}
    cases = [
        (("event_id", "==", 15), True),
        (("event_id", "==", 9), False),
        (("event_id", "==", 21), False),
        (("event_id", "<", 10), False),
        (("event_id", "<", 11), True),
        (("event_id", "<=", 10), True),
        (("event_id", "<=", 9), False),
        (("event_id", ">", 20), False),
        (("event_id", ">", 19), True),
        (("event_id", ">=", 20), True),
        (("event_id", ">=", 21), False),
        (("event_id", "between", (21, 30)), False),
        (("event_id", "between", (0, 9)), False),
        (("event_id", "between", (20, 30)), True),
        (("event_id", "between", (0, 10)), True),
    ]
    for cond, want in cases:
        assert _file_may_match(band, [cond]) is want, cond
    # conjunction: any single impossible condition prunes the file
    assert (
        _file_may_match(band, [("event_id", ">", 25), ("other", "==", 1)])
        is False
    )
    # a zero-row file prunes under any predicate
    assert _file_may_match({"__empty": True}, [("other", "==", 1)]) is False
    # safety rails: no stats / unknown column / type mismatch ⇒ keep
    assert _file_may_match(None, [("event_id", "==", 0)]) is True
    assert _file_may_match({}, [("event_id", "==", 0)]) is True
    assert _file_may_match(band, [("other", "==", 0)]) is True
    assert _file_may_match(band, [("event_id", "==", "abc")]) is True


def test_snapshot_schema_evolution_and_refusal(spark, sf_smoke, tmp_path):
    """b24's engine: a snapshot table whose commits span schema
    generations. mergeSchema surfaces the late-added column as NULL
    for old files; the contract read conforms v1 to the v2 shape with
    typed NULLs; and a commit that RETYPES a column is refused loudly
    at contract read time — never silently cast."""
    import pytest as _pytest

    from stock_market_etl_spark.io import (
        commit_snapshot,
        read_snapshot_evolving,
    )

    ev = load_table(spark, sf_smoke, "events").select(
        "event_id", F.round("value", 6).alias("value")
    )
    table = str(tmp_path / "t")
    commit_snapshot(spark, table, ev.filter(F.col("event_id") % 2 == 0))
    gen2 = ev.filter(F.col("event_id") % 2 == 1).withColumn(
        "source", F.lit("feed_b")
    )
    v2 = commit_snapshot(spark, table, gen2)
    contract = gen2.schema

    # v1 under the v2 contract: v2 shape, source = typed NULL string
    old = read_snapshot_evolving(spark, table, 1, expected=contract)
    assert [f.name for f in old.schema.fields] == [
        "event_id", "value", "source",
    ]
    assert dict(old.dtypes)["source"] == "string"
    assert old.filter(F.col("source").isNotNull()).count() == 0

    # latest merged: both generations, NULL exactly on v1-era rows
    cur = read_snapshot_evolving(spark, table, v2, expected=contract)
    assert cur.count() == ev.count()
    assert (
        cur.filter(F.col("source").isNull()).count()
        == ev.filter(F.col("event_id") % 2 == 0).count()
    )

    # extra columns in the lake DROP under the contract
    gen3 = gen2.withColumn("debug_flag", F.lit(True))
    v3 = commit_snapshot(spark, table, gen3)
    conformed = read_snapshot_evolving(spark, table, v3, expected=contract)
    assert "debug_flag" not in conformed.columns

    # TYPE drift refuses loudly, at BOTH seams (r11: schema is
    # manifest metadata). Read side: a table whose recorded type
    # disagrees with the caller's contract → TypeError at the
    # contract read. Commit side: a commit retyping an existing
    # column is refused BEFORE it can poison the table.
    drift = ev.withColumn("value", F.col("value").cast("string"))
    v4 = commit_snapshot(spark, str(tmp_path / "t2"), drift)
    with _pytest.raises(TypeError, match="schema drift on 'value'"):
        read_snapshot_evolving(
            spark, str(tmp_path / "t2"), v4, expected=contract
        ).collect()
    with _pytest.raises(TypeError, match="schema drift on 'value'"):
        commit_snapshot(  # second generation retypes value → refused
            spark,
            str(tmp_path / "t2"),
            ev.withColumn("source", F.lit("x")),
        )


def test_contract_nullability_is_not_drift(spark, tmp_path):
    """ADVICE r11: the manifest stores schemas nullability-relaxed
    (_merge_table_schema), so a contract declaring e.g.
    ArrayType(..., containsNull=False) must NOT read as drift — the
    read seams (read_snapshot_evolving AND load_evolving) apply the
    commit seam's nullability-is-not-drift rule. Element-type drift
    inside the array still refuses loudly."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from stock_market_etl_spark.io import (
        commit_snapshot,
        load_evolving,
        read_snapshot_evolving,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0])],
        T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField(
                    "vals", T.ArrayType(T.DoubleType(), False), False
                ),
            ]
        ),
    )
    strict = df.schema  # containsNull=False / nullable=False contract

    table = str(tmp_path / "snap")
    v1 = commit_snapshot(spark, table, df)
    got = read_snapshot_evolving(spark, table, v1, expected=strict)
    assert got.count() == 2 and set(got.columns) == {"id", "vals"}

    lake = str(tmp_path / "lake")
    df.write.parquet(lake)
    got2 = load_evolving(spark, lake, expected=strict)
    assert got2.count() == 2

    # the relax is nullability-ONLY: element-type drift still refuses
    retyped = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField(
                "vals", T.ArrayType(T.StringType(), False), False
            ),
        ]
    )
    with _pytest.raises(TypeError, match="schema drift on 'vals'"):
        read_snapshot_evolving(spark, table, v1, expected=retyped)
    with _pytest.raises(TypeError, match="schema drift on 'vals'"):
        load_evolving(spark, lake, expected=retyped)


def test_read_increment_with_predicate_prunes(spark, sf_smoke, tmp_path):
    """read_increment(predicate=...) composes data skipping with the
    CDC read: the increment's files band-prune before planning, rows
    equal the plain filtered increment, and a fully-pruned increment
    is an EMPTY frame in the snapshot schema (not an error)."""
    from stock_market_etl_spark.io import commit_snapshot, read_increment

    ev = load_table(spark, sf_smoke, "events").select(
        "event_id", "user_id", F.round("value", 6).alias("value")
    )
    n = ev.agg(F.max("event_id")).collect()[0][0]
    table = str(tmp_path / "t")
    commit_snapshot(
        spark,
        table,
        ev.filter(F.col("event_id") <= n // 2),
        stat_columns=["event_id"],
    )
    # v2 appends two range slices => two files with disjoint bands
    hi = ev.filter(F.col("event_id") > n // 2)
    mid = (n // 2 + n) // 2
    v2 = commit_snapshot(
        spark,
        table,
        hi.repartitionByRange(2, "event_id"),
    )
    pred = [("event_id", ">", mid)]
    inc = read_increment(spark, table, 1, v2, predicate=pred)
    import json
    import os

    with open(os.path.join(table, f"_v{v2}.manifest.json")) as fh:
        m = json.load(fh)
    inc_files_all = [f for f in m["files"] if f"/v{v2}-" in f]
    assert len(inc_files_all) == 2
    assert 0 < len(set(inc.inputFiles())) < len(inc_files_all)
    assert (
        sorted(r["event_id"] for r in inc.collect())
        == sorted(
            r["event_id"]
            for r in hi.filter(F.col("event_id") > mid).collect()
        )
    )
    # fully pruned increment: empty frame, snapshot schema, no error
    nothing = read_increment(
        spark, table, 1, v2, predicate=[("event_id", ">", n * 10)]
    )
    assert nothing.columns == ["event_id", "user_id", "value"]
    assert nothing.count() == 0


def test_snapshot_stats_string_and_date_bands(spark, sf_smoke, tmp_path):
    """b23's band check beyond ints: string and date columns record
    footer bands and prune correctly (the _stat_encode tag round-trip
    — dates come back from JSON as comparable date objects, strings
    compare lexicographically), and a predicate on a column with NO
    recorded band never prunes."""
    import datetime

    from stock_market_etl_spark.io import commit_snapshot, read_snapshot

    od = load_table(spark, sf_smoke, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.to_date("o_orderdate").alias("o_date"),
    )
    table = str(tmp_path / "t")
    # slices by order status => files with narrow string bands
    statuses = [
        r["o_orderstatus"]
        for r in od.select("o_orderstatus").distinct().collect()
    ]
    assert len(statuses) >= 2
    v = 0
    for s in sorted(statuses):
        v = commit_snapshot(
            spark,
            table,
            od.filter(F.col("o_orderstatus") == s),
            stat_columns=["o_orderstatus", "o_date"],
        )
    want_status = sorted(statuses)[0]
    got = read_snapshot(
        spark, table, v, predicate=[("o_orderstatus", "==", want_status)]
    )
    import json
    import os

    with open(os.path.join(table, f"_v{v}.manifest.json")) as fh:
        m = json.load(fh)
    assert 0 < len(set(got.inputFiles())) < len(m["files"])
    assert got.count() == od.filter(
        F.col("o_orderstatus") == want_status
    ).count()
    # date band: prune to orders at-or-before the global median date
    mid = od.agg(
        F.expr("percentile_approx(o_date, 0.5)").alias("m")
    ).collect()[0]["m"]
    assert isinstance(mid, datetime.date)
    got_d = read_snapshot(spark, table, v, predicate=[("o_date", "<=", mid)])
    assert got_d.count() == od.filter(F.col("o_date") <= mid).count()
    # every file records a DATE-tagged band that decoded comparably
    tags = {m["stats"][f]["o_date"]["t"] for f in m["files"]}
    assert tags == {"date"}
    # unknown column in the predicate: no pruning, plain filter result
    got_u = read_snapshot(
        spark, table, v, predicate=[("o_orderkey", ">=", 0)]
    )
    assert len(set(got_u.inputFiles())) == len(m["files"])
    assert got_u.count() == od.count()


def test_fully_pruned_read_presents_union_schema(spark, tmp_path):
    """ADVICE r10 + r11 review: EVERY read path of a snapshot —
    unpruned, partially pruned, and fully pruned — must present the
    manifest-recorded table schema, never a per-footer sample, so the
    result shape can't vary with predicate selectivity (pre-fix, a
    predicate pruning to gen-1 files silently dropped the late-added
    column). Also pins the zero-file-manifest guard (explicit
    ValueError, not IndexError)."""
    import json
    import os

    from stock_market_etl_spark.io import (
        commit_snapshot,
        read_increment,
        read_snapshot,
    )

    table = str(tmp_path / "t")
    v1_rows = spark.range(0, 10).select(
        F.col("id").alias("event_id"), F.lit(1.0).alias("value")
    )
    commit_snapshot(spark, table, v1_rows, stat_columns=["event_id"])
    v2_rows = spark.range(10, 20).select(
        F.col("id").alias("event_id"),
        F.lit(2.0).alias("value"),
        F.lit("late").alias("extra"),  # column added in generation 2
    )
    v2 = commit_snapshot(spark, table, v2_rows, stat_columns=["event_id"])

    # generation-1 files sort first in the manifest, so the old
    # files[0] anchor would have dropped 'extra' from the empty shape
    with open(os.path.join(table, f"_v{v2}.manifest.json")) as fh:
        m = json.load(fh)
    first = spark.read.parquet(m["files"][0])
    assert "extra" not in first.columns

    nothing = read_snapshot(
        spark, table, v2, predicate=[("event_id", ">", 10_000)]
    )
    assert nothing.count() == 0
    assert set(nothing.columns) == {"event_id", "value", "extra"}
    inc_nothing = read_increment(
        spark, table, 0, v2, predicate=[("event_id", ">", 10_000)]
    )
    assert inc_nothing.count() == 0
    assert set(inc_nothing.columns) == {"event_id", "value", "extra"}

    # PARTIALLY pruned to gen-1 files only: same union shape, 'extra'
    # is NULL for every surviving pre-evolution row (the r11 review's
    # failure case — pre-fix this frame had no 'extra' at all)
    gen1_only = read_snapshot(
        spark, table, v2, predicate=[("event_id", "<", 5)]
    )
    assert set(gen1_only.columns) == {"event_id", "value", "extra"}
    assert gen1_only.count() == 5
    assert gen1_only.filter(F.col("extra").isNotNull()).count() == 0
    # unpruned read: same shape again, gen-2 rows carry their values
    full = read_snapshot(spark, table, v2)
    assert set(full.columns) == {"event_id", "value", "extra"}
    assert full.filter(F.col("extra") == "late").count() == 10

    # zero-file manifest: loud refusal on any read path
    broken = str(tmp_path / "broken")
    os.makedirs(broken)
    with open(os.path.join(broken, "_v1.manifest.json"), "w") as fh:
        json.dump({"files": []}, fh)
    import pytest

    with pytest.raises(ValueError, match="zero files"):
        read_snapshot(spark, broken, 1)


def test_legacy_manifests_without_schema_read_and_rewrite_alike(
    spark, tmp_path
):
    """Manifests written before the table schema was recorded carry no
    ``"schema"``; every operation then derives it by a mergeSchema
    footer union over the manifest's files (`_manifest_schema`). Two
    tables get the same two-generation history (generation 2 adds a
    column); one has ``"schema"`` stripped from every manifest before
    each operation. Reads, the contract read, CoW delete and upsert,
    and compaction must give the same columns and rows on both."""
    import json
    import os

    from stock_market_etl_spark.io import (
        _list_versions,
        _manifest_path,
        commit_snapshot,
        compact_snapshot,
        delete_where_snapshot,
        read_increment,
        read_snapshot,
        read_snapshot_evolving,
        upsert_snapshot,
    )

    gen1 = spark.range(0, 12).select(
        F.col("id").alias("event_id"), (F.col("id") * 1.5).alias("value")
    )
    gen2 = spark.range(12, 24).select(
        F.col("id").alias("event_id"),
        (F.col("id") * 1.5).alias("value"),
        F.lit("feed_b").alias("source"),  # column added in generation 2
    )
    plain, legacy = str(tmp_path / "plain"), str(tmp_path / "legacy")
    for table in (plain, legacy):
        commit_snapshot(spark, table, gen1, stat_columns=["event_id"])
        commit_snapshot(spark, table, gen2)

    def strip_schemas() -> None:
        for v in _list_versions(legacy):
            path = _manifest_path(legacy, v)
            with open(path) as fh:
                m = json.load(fh)
            m.pop("schema", None)
            with open(path, "w") as fh:
                json.dump(m, fh)

    def same(read) -> None:
        got = {}
        for table in (plain, legacy):
            df = read(table)
            got[table] = (
                df.dtypes,
                sorted(df.collect(), key=lambda r: r["event_id"]),
            )
        assert got[legacy] == got[plain]
        assert got[plain][1], "compare non-empty results"

    strip_schemas()
    with open(_manifest_path(legacy, 2)) as fh:
        assert "schema" not in json.load(fh)
    same(lambda t: read_snapshot(spark, t, 1))
    same(lambda t: read_snapshot(spark, t, 2))
    same(lambda t: read_snapshot(spark, t, 2, [("event_id", ">=", 10)]))
    same(lambda t: read_increment(spark, t, 1, 2))
    same(lambda t: read_snapshot_evolving(spark, t, 1, gen2.schema))

    # the hit predicate reads the late-added column, NULL on gen-1 files
    strip_schemas()
    dropped = (F.col("source").isNull()) & (F.col("event_id") % 3 == 0)
    same(lambda t: read_snapshot(
        spark, t, delete_where_snapshot(spark, t, dropped)
    ))
    strip_schemas()
    updates = spark.range(8, 16).select(
        F.col("id").alias("event_id"),
        F.lit(-1.0).alias("value"),
        F.lit("fix").alias("source"),
    )
    same(lambda t: read_snapshot(
        spark, t, upsert_snapshot(spark, t, updates, ("event_id",))
    ))
    strip_schemas()
    same(lambda t: read_snapshot(
        spark, t, compact_snapshot(spark, t, num_files=1)
    ))
    assert _list_versions(legacy) == _list_versions(plain) == [1, 2, 3, 4, 5]


def test_merge_table_schema_properties():
    """The manifest-schema merge rule's algebra, pinned directly:
    idempotence (merge(s, s) == nullable(s)), append order
    (prev-then-new), recursive nullability relaxation on arrays /
    maps / nested structs (data-compatible, never drift), and loud
    refusal on a real type change."""
    import pytest
    from pyspark.sql import types as T

    from stock_market_etl_spark.io import (
        _merge_table_schema,
        _nullable_type,
    )

    arr_strict = T.ArrayType(T.StringType(), containsNull=False)
    nested = T.StructType(
        [T.StructField("x", T.LongType(), nullable=False)]
    )
    s1 = T.StructType(
        [
            T.StructField("a", T.LongType(), nullable=False),
            T.StructField("tags", arr_strict, nullable=True),
            T.StructField("m", T.MapType(T.StringType(), nested, False)),
        ]
    )
    # idempotence: merging a schema with itself is its relaxed form
    merged = _merge_table_schema(s1, s1)
    assert merged == _nullable_type(s1)
    assert all(f.nullable for f in merged.fields)
    assert merged["tags"].dataType.containsNull is True
    assert merged["m"].dataType.valueContainsNull is True
    assert merged["m"].dataType.valueType["x"].nullable is True

    # nested-nullability-only difference is NOT drift (collect_list
    # emits containsNull=False, parquet read-back says True)
    s2 = T.StructType(
        [T.StructField("tags", T.ArrayType(T.StringType(), True))]
    )
    s1b = T.StructType([T.StructField("tags", arr_strict)])
    assert _merge_table_schema(s1b, s2) == _nullable_type(s1b)

    # append keeps prev order and adds new fields at the end
    s3 = T.StructType(
        [
            T.StructField("b", T.StringType()),
            T.StructField("a", T.LongType()),
        ]
    )
    out = _merge_table_schema(s1, s3)
    assert [f.name for f in out.fields] == ["a", "tags", "m", "b"]

    # a real type change refuses loudly
    s4 = T.StructType([T.StructField("a", T.StringType())])
    with pytest.raises(TypeError, match="schema drift on 'a'"):
        _merge_table_schema(s1, s4)

    # fresh table: merge(None, s) is the relaxed commit schema
    assert _merge_table_schema(None, s1) == _nullable_type(s1)
