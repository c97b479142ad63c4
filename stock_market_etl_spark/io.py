"""Lake I/O: parquet readers and partitioned writers.

Replaces the reference's hand-built S3 object keys + ThreadPoolExecutor
GET/PUT loops (`scripts/ingest_hourly.py:89-139`,
`scripts/transform.py:46-60,113-125`) with Spark's native parquet source
and Hive-style partition layout: Catalyst prunes partitions from
filters, and the writer parallelizes across tasks — no thread pools, no
key templating.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import time
import uuid
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from stock_market_etl_spark.session import prepare_session, shuffle_width

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def canon_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the ``ts`` event-time column to session-TZ
    ``TimestampType`` regardless of the physical shape Spark's parquet
    reader produced.

    The fixture's ``events.ts`` is parquet TIMESTAMP(NANOS, false), a
    type whose Spark mapping has drifted across releases; this is the
    ONE place all three observed shapes converge on the engine-canonical
    dtype (asserted by tests/test_env_canary.py):

    - ``bigint`` (legacy ``nanosAsLong=true`` path): raw nanos →
      truncate to micros, identical to DuckDB's ns→µs truncation on the
      oracle side.
    - ``timestamp_ntz`` (Spark 4.1.x default for parquet nanos): cast
      to TIMESTAMP — value-preserving because the session timezone is
      pinned UTC (session.py).
    - ``timestamp``: already canonical.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def canon_timestamps(df: DataFrame) -> DataFrame:
    """Cast every ``TIMESTAMP_NTZ`` column to session-TZ ``TIMESTAMP``.

    The fixtures store event/date columns as parquet ``timestamp``
    with ``isAdjustedToUTC=false``, which Spark 4.1 maps to
    ``TIMESTAMP_NTZ`` while older readers (and DuckDB on the oracle
    side) produce plain ``TIMESTAMP`` — the same naive values either
    way. Under the engine's pinned-UTC session the cast is
    value-preserving, and downstream code gets ONE dtype to reason
    about (``unix_micros``, watermarks, and streaming all require
    ``TIMESTAMP``).
    """
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as a DataFrame with engine-canonical
    types: ``events.ts`` via :func:`canon_events_ts` (handles the
    bigint-nanos legacy shape too), every other NTZ column via
    :func:`canon_timestamps`."""
    prepare_session(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = canon_events_ts(df)
    return canon_timestamps(df)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("year", "ticker"),
) -> None:
    """B1: partitioned parquet write (reference
    `scripts/ingest_backfill_raw.py:49-78`, `scripts/transform.py:113-125`).

    With ``partitionOverwriteMode=dynamic`` (session default), only the
    partitions present in ``df`` are replaced — the Spark-native form of
    the reference's per-key read-merge-write (B2), minus the read-merge
    when full partitions are recomputed. At 100 TB this layout gives
    partition pruning on (year, ticker) predicates and bounded task
    sizes.
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int = 16,
    sort_cols: tuple[str, ...] | None = None,
    path: str | None = None,
) -> None:
    """Bucketed parquet table layout (SCALE.md Joins): pre-shuffle the
    table ONCE at write time, hashed on its join key into
    ``num_buckets`` files per partition.

    Two tables bucketed on their join keys with the same bucket count
    sort-merge-join with NO exchange on either side — the shuffle that
    dominates large-large joins (e.g. lineitem⋈orders at 100 TB) is paid
    once at layout time and amortized over every subsequent join.
    ``sort_cols`` additionally pre-sorts within buckets so the SMJ's
    per-partition sort disappears too. ``path`` makes the table
    external (the lake keeps the bytes; the metastore keeps the bucket
    spec). Asserted shuffle-free in tests/test_plans.py; the
    oracle-checked catalog form is b11.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def with_year(df: DataFrame) -> DataFrame:
    """Derive the ``year`` partition column the reference encodes in its
    S3 key template (`scripts/ingest_backfill_raw.py:54`)."""
    return df.withColumn("year", F.year(F.col("date")))


def load_jdbc(
    spark: SparkSession,
    url: str,
    query: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound=None,
    upper_bound=None,
    properties: dict | None = None,
) -> DataFrame:
    """A2: JDBC scan (reference `scripts/app.py:31-44`,
    `scripts/load_stock_metrics.py:40-49` — SQL pushed to Postgres).

    Spark pushes filters/projections into the remote database; with
    ``partition_column`` + bounds the scan splits into parallel range
    queries instead of one connection streaming the whole table.
    Exercised end-to-end against embedded Derby (on Spark's own
    classpath) including the partition-parallel branch — catalog
    query ``a2_jdbc_scan`` (full hash oracle) and
    tests/test_sinks.py; production swaps only URL/driver.
    """
    reader = spark.read.format("jdbc").option("url", url)
    if partition_column is not None:
        # Spark rejects query+partitionColumn together: a partitioned
        # scan must go through dbtable (each task wraps it in its own
        # range-predicated SELECT), so wrap the query as a derived table.
        reader = (
            reader.option("dbtable", f"({query}) spark_subq")
            .option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    else:
        reader = reader.option("query", query)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def write_compacted(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = (),
) -> None:
    """Small-files-controlled parquet write: the AQE REBALANCE hint
    inserts a shuffle whose output partitions are coalesced/split to
    ~spark.sql.adaptive.advisoryPartitionSizeInBytes at runtime, so the
    file count tracks data volume instead of upstream task count.

    The failure this prevents at 100 TB is structural: a filtered or
    exploded stage keeps its parent's partition count, so a 10 000-task
    job writing a 1 GB result emits 10 000 tiny files — and every later
    scan pays listing + open cost per file (the classic small-files
    problem; compaction jobs exist to undo it after the fact). With
    ``partition_cols`` the rebalance keys on them, so each Hive
    partition is written by as few tasks as its size needs.
    """
    hinted = (
        df.hint("rebalance", *[F.col(c) for c in partition_cols])
        if partition_cols
        else df.hint("rebalance")
    )
    writer = hinted.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: tuple[str, ...],
    num_files: int | None = None,
) -> None:
    """Range-clustered parquet write — the 1-D Z-order move for scan
    pruning. ``repartitionByRange`` sends each value range of the
    cluster columns to ONE output task (range boundaries from a
    reservoir sample of the data) and ``sortWithinPartitions`` orders
    rows inside it, so every produced file's parquet footer carries a
    NARROW, near-disjoint min/max band for those columns.

    Why it matters at 100 TB: parquet predicate pushdown skips row
    groups whose footer stats exclude the predicate. Over an
    unclustered layout every file spans the full value range and
    nothing skips; over this layout a point/range predicate touches
    only the files whose band intersects it — a time-range dashboard
    query over a ts-clustered events lake reads ~(range/total) of the
    data instead of all of it, before a single row is decoded. The
    write costs one range shuffle (sampled boundaries keep it
    balanced, no skew pin like hash-on-few-values); reads need no new
    API — the pruning is the ordinary scan's PushedFilters against
    better stats. Footer-band disjointness is asserted directly from
    the files in tests/test_sinks.py. ``num_files`` defaults to the
    session's shuffle width (one file per core).
    """
    n = num_files or shuffle_width(df.sparkSession)
    (
        df.repartitionByRange(n, *[F.col(c) for c in cluster_cols])
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def load_evolving(
    spark: SparkSession,
    path: str,
    expected: "StructType | None" = None,
) -> DataFrame:
    """Read a parquet lake whose files span SCHEMA VERSIONS — the
    normal state of a long-lived 100 TB lake (columns get added over
    releases; old files are never rewritten). ``mergeSchema`` unions
    the per-file footers so late-added columns surface as NULL for old
    files instead of silently vanishing (the default reader takes one
    footer as THE schema — which columns you see would depend on which
    file got sampled).

    With ``expected`` the result is additionally conformed to a
    contract schema: missing columns materialize as typed NULLs,
    extra columns are dropped, and mismatched types are a loud error
    (a K2-grade violation — silent casts would defer the blast to
    whoever reads the lake next). Footer merging is metadata-only;
    the data scan still prunes to the selected columns.

    Reference parity: the reference drops yfinance's `adj close`
    before load (`scripts/load_stock_metrics.py:82`) and hard-rejects
    dtype drift (`scripts/transform.py:96-101`) — conform-then-gate at
    the read boundary is the same contract, lifted to a lake whose
    files are allowed to disagree.
    """
    df = spark.read.option("mergeSchema", "true").parquet(path)
    return df if expected is None else _conform(df, expected, "lake")


def _conform(df: DataFrame, expected: T.StructType, where: str) -> DataFrame:
    """Conform ``df`` to the contract schema ``expected``: missing
    columns materialize as typed NULLs, extra columns drop, and a
    type-drifted column is a loud TypeError naming ``where`` (the lake
    or the snapshot read) — never a silent cast. Nullability
    differences (incl. nested containsNull / valueContainsNull) are
    data-compatible, never drift: BOTH sides are relaxed, the rule the
    commit seam applies when merging manifest schemas
    (`_merge_table_schema`), so a contract declaring e.g.
    ``ArrayType(..., containsNull=False)`` still reads a table whose
    recorded schema is nullability-relaxed."""
    have = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for field in expected.fields:
        got = have.get(field.name)
        if got is None:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        elif _nullable_type(got) != _nullable_type(field.dataType):
            raise TypeError(
                f"schema drift on {field.name!r}: {where} has {got}, "
                f"contract wants {field.dataType} — refusing to cast "
                "silently"
            )
        else:
            cols.append(F.col(field.name))
    return df.select(*cols)


def zorder_key(
    a: "Column",
    b: "Column",
    a_min: float,
    a_max: float,
    b_min: float,
    b_max: float,
) -> "Column":
    """Morton (Z-order) key for two columns: min-max-normalize each to
    16 bits and interleave them, so rows close in BOTH
    dimensions get close keys. Bounds arrive as plain floats (the
    caller's one-row stats aggregate — index metadata, not data). A
    degenerate dimension (min == max) maps to 0 and the key falls
    back to 1-D ordering on the other column. Pure column arithmetic
    (cast/floor/shift/or) — whole-stage-codegen'd, no UDF.
    """
    def norm(c: "Column", lo: float, hi: float) -> "Column":
        span = hi - lo
        if span <= 0:
            return F.lit(0).cast("long")
        scaled = (c.cast("double") - F.lit(lo)) / F.lit(span) * F.lit(
            float((1 << 16) - 1)
        )
        clamped = F.least(
            F.greatest(scaled, F.lit(0.0)), F.lit(float((1 << 16) - 1))
        )
        return F.floor(clamped).cast("long")

    na, nb = norm(a, a_min, a_max), norm(b, b_min, b_max)
    key = F.lit(0).cast("long")
    for i in range(16):
        bit_a = F.shiftleft(
            F.shiftright(na, i).bitwiseAND(F.lit(1).cast("long")), 2 * i
        )
        bit_b = F.shiftleft(
            F.shiftright(nb, i).bitwiseAND(F.lit(1).cast("long")), 2 * i + 1
        )
        key = key.bitwiseOR(bit_a).bitwiseOR(bit_b)
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_files: int | None = None,
) -> None:
    """Z-order-clustered parquet write — the 2-D extension of
    ``write_clustered``: files are range-partitioned + sorted on the
    Morton key of (``col_a``, ``col_b``), so every file's footer
    carries a narrow min/max BOX in both columns at once and a box
    predicate (user range × time range) skips every file whose box
    misses it. 1-D range clustering can only serve one of the two
    dimensions; Z-order trades a little per-dimension tightness for
    skippability on both — the Delta/Iceberg OPTIMIZE ZORDER move,
    here as a plain column expression over open parquet. The column
    bounds come from one bounded stats aggregate (driver-side index
    metadata, same class as IVF centroids); the write costs one range
    shuffle on the key; reads need no new API. Box-intersection file
    skipping is asserted from the real footers in tests/test_sinks.py.
    """
    stats = df.agg(
        F.min(F.col(col_a).cast("double")),
        F.max(F.col(col_a).cast("double")),
        F.min(F.col(col_b).cast("double")),
        F.max(F.col(col_b).cast("double")),
    ).collect()[0]
    a_min, a_max, b_min, b_max = (float(x) for x in stats)
    key = zorder_key(F.col(col_a), F.col(col_b), a_min, a_max, b_min, b_max)
    n = num_files or shuffle_width(df.sparkSession)
    (
        df.withColumn("__zkey", key)
        .repartitionByRange(n, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def _list_versions(table_path: str) -> list[int]:
    """Sorted committed snapshot versions of a manifest-versioned
    table — the ONE place the manifest naming scheme
    (``_v{N}.manifest.json``) is parsed, as `_manifest_path` is the one
    place it is formatted; every snapshot operation (commit, compact,
    delete, merge, vacuum) discovers versions through here so the
    scheme can never desynchronize between them. Empty list if the
    table directory doesn't exist."""
    if not os.path.isdir(table_path):
        return []
    return sorted(
        int(f[2 : -len(".manifest.json")])
        for f in os.listdir(table_path)
        if f.startswith("_v") and f.endswith(".manifest.json")
    )


def _latest_version(table_path: str) -> int:
    """Latest committed version, 0 if none."""
    versions = _list_versions(table_path)
    return versions[-1] if versions else 0


def _manifest_path(table_path: str, version: int) -> str:
    """Snapshot ``version``'s manifest file — the ONE place the
    manifest filename is formatted (`_list_versions` parses it)."""
    return os.path.join(table_path, f"_v{version}.manifest.json")


def _read_manifest(table_path: str, version: int) -> dict:
    """Snapshot ``version``'s manifest: ``{"version", "files"}`` plus
    the optional ``txn``, ``schema``, ``stat_columns`` and ``stats``
    (see `_commit_manifest`). A missing version raises
    FileNotFoundError — never an empty snapshot."""
    with open(_manifest_path(table_path, version)) as fh:
        return json.load(fh)


def _latest_manifest(
    spark: SparkSession, table_path: str
) -> tuple[int, dict, T.StructType]:
    """(version, manifest, table schema) of the latest snapshot — the
    starting point of every rewrite (compact, CoW delete, upsert); a
    table with no committed snapshot is an error."""
    prev = _latest_version(table_path)
    if not prev:
        raise ValueError(f"no committed snapshot under {table_path}")
    manifest = _read_manifest(table_path, prev)
    return prev, manifest, _manifest_schema(spark, manifest)


def _write_data_files(
    df: DataFrame, table_path: str, version: int
) -> list[str]:
    """Land ``df`` as new parquet files of snapshot ``version`` and
    return their paths. Each call writes a fresh ``data/v{N}-{attempt}/``
    directory (``mode("error")``: never into existing bytes), so a
    re-commit after a crashed attempt can't collide with the crash's
    orphans; nothing is visible until a manifest lists the files."""
    data_dir = os.path.join(
        table_path, "data", f"v{version}-{uuid.uuid4().hex[:8]}"
    )
    df.write.mode("error").parquet(data_dir)
    return [
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    ]


def _input_file_uri_to_path(uri: str) -> str:
    """Normalize a Spark ``input_file_name()`` value (a URL-encoded
    ``file:`` URI in local mode) back to an absolute filesystem path.

    Spark percent-encodes URI-special characters (space, ``%``,
    non-ASCII), so comparing the raw URI against
    ``'file://' + abspath`` silently matches NOTHING on such paths —
    a copy-on-write delete would then no-op while still committing a
    "successful" new version. Decode first, compare on real paths.
    """
    parsed = urlparse(uri)
    path = unquote(parsed.path) if parsed.scheme else unquote(uri)
    return os.path.abspath(path)


def _resolve_hit_files(
    hit_uris: set[str], files: list[str], op: str
) -> tuple[list[str], list[str]]:
    """Map the distinct ``input_file_name()`` URIs of matched rows back
    onto the manifest's file list → (keep, rewrite). Every hit URI MUST
    resolve to a manifest file: an unmapped hit means the URI↔path
    normalization broke, and proceeding would silently drop the delete/
    merge for those rows — fail loudly instead."""
    hit_paths = {_input_file_uri_to_path(u) for u in hit_uris}
    by_path = {os.path.abspath(f): f for f in files}
    unmapped = hit_paths - set(by_path)
    if unmapped:
        raise RuntimeError(
            f"{op}: {len(unmapped)} matched file URI(s) map to no "
            f"manifest file (first: {sorted(unmapped)[:2]}) — refusing "
            "to commit a snapshot that would silently keep matched rows"
        )
    keep = [f for f in files if os.path.abspath(f) not in hit_paths]
    rewrite = [f for f in files if os.path.abspath(f) in hit_paths]
    return keep, rewrite


def _stat_encode(v):
    """JSON-safe (tag, value) for a footer min/max value, or None for
    types we don't prune on."""
    if isinstance(v, bool):  # bool is an int subclass — exclude first
        return None
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("float", v)
    if isinstance(v, str):
        return ("str", v)
    if isinstance(v, bytes):
        try:
            return ("str", v.decode("utf-8"))
        except UnicodeDecodeError:
            return None
    if isinstance(v, datetime.datetime):  # before date — subclass order
        return ("ts", v.isoformat())
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    return None


def _stat_decode(tag: str, v):
    if tag == "date":
        return datetime.date.fromisoformat(v)
    if tag == "ts":
        return datetime.datetime.fromisoformat(v)
    return v


def _collect_file_stats(
    files: list[str], columns: list[str]
) -> dict[str, dict[str, dict]]:
    """Per-file column min/max from the parquet FOOTERS (metadata-only
    — no row decodes; pyarrow reads just the footer). Returns
    ``{file: {col: {"t": tag, "min": v, "max": v}}}``. A column is
    recorded only when EVERY row group in the file carries min/max for
    it (any gap → no entry → the file is never pruned on that column
    — stats can only skip, never lie)."""
    import pyarrow.parquet as pq

    out: dict[str, dict[str, dict]] = {}
    for path in files:
        md = pq.ParquetFile(path).metadata
        if md.num_rows == 0:
            # a zero-row file (e.g. a CoW rewrite whose survivors all
            # matched) can be skipped under ANY predicate
            out[path] = {"__empty": True}
            continue
        idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        per: dict[str, dict] = {}
        for col in columns:
            i = idx.get(col)
            if i is None:
                continue
            lo = hi = None
            ok = md.num_row_groups > 0
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(i).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None or st.min < lo else lo
                hi = st.max if hi is None or st.max > hi else hi
            if not ok:
                continue
            enc_lo, enc_hi = _stat_encode(lo), _stat_encode(hi)
            if enc_lo is None or enc_hi is None:
                continue
            per[col] = {"t": enc_lo[0], "min": enc_lo[1], "max": enc_hi[1]}
        if per:
            out[path] = per
    return out


def _normalize_predicate(predicate) -> list[tuple]:
    """Accept one condition or a conjunctive list; each condition is
    ``(col, op, value)`` with op ∈ {==, =, <, <=, >, >=} or
    ``(col, "between", (lo, hi))``. Returns the validated list."""
    if not predicate:
        return []
    if isinstance(predicate, tuple):
        predicate = [predicate]
    ops = {"==", "=", "<", "<=", ">", ">=", "between"}
    out = []
    for cond in predicate:
        col, op, val = cond
        if op not in ops:
            raise ValueError(f"unsupported predicate op: {op!r}")
        if op == "between" and (
            not isinstance(val, (tuple, list)) or len(val) != 2
        ):
            raise ValueError("between takes (lo, hi)")
        out.append((col, op, val))
    return out


def _file_may_match(
    file_stats: dict | None, predicate: list[tuple]
) -> bool:
    """Band check: can a row satisfying EVERY condition exist inside
    this file's recorded [min, max] bands? Missing stats (whole file
    or one column) always answer yes — skipping is an optimization,
    never a correctness dependency."""
    if not file_stats:
        return True
    if file_stats.get("__empty"):
        return False  # zero rows — nothing can match
    for col, op, val in predicate:
        band = file_stats.get(col)
        if band is None:
            continue
        lo = _stat_decode(band["t"], band["min"])
        hi = _stat_decode(band["t"], band["max"])
        try:
            if op in ("==", "=") and not (lo <= val <= hi):
                return False
            if op == "<" and not (lo < val):
                return False
            if op == "<=" and not (lo <= val):
                return False
            if op == ">" and not (hi > val):
                return False
            if op == ">=" and not (hi >= val):
                return False
            if op == "between" and not (hi >= val[0] and lo <= val[1]):
                return False
        except TypeError:
            # incomparable literal vs stored stat type — never prune
            continue
    return True


def _predicate_expr(predicate: list[tuple]):
    """The RESIDUAL filter: the same conditions as a Column expression,
    applied after file pruning so results never depend on stats."""
    expr = F.lit(True)
    for col, op, val in predicate:
        c = F.col(col)
        if op in ("==", "="):
            cond = c == F.lit(val)
        elif op == "<":
            cond = c < F.lit(val)
        elif op == "<=":
            cond = c <= F.lit(val)
        elif op == ">":
            cond = c > F.lit(val)
        elif op == ">=":
            cond = c >= F.lit(val)
        else:  # between
            cond = c.between(F.lit(val[0]), F.lit(val[1]))
        expr = expr & cond
    return expr


def _nullable_type(dt):
    """``dt`` with nullability relaxed RECURSIVELY (array containsNull,
    map valueContainsNull, nested struct fields): the table-level
    contract must admit NULLs everywhere because a carried
    pre-evolution file yields them for late-added columns, and two
    frames whose types differ ONLY in nested nullability (collect_list
    emits containsNull=false, the parquet read-back says true) are
    data-compatible — treating that as drift would wedge a streaming
    producer."""
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable_type(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _nullable_type(dt.keyType), _nullable_type(dt.valueType), True
        )
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _nullable_type(f.dataType), True)
                for f in dt.fields
            ]
        )
    return dt


def _merge_table_schema(prev: "StructType | None", new: "StructType"):
    """Union a table's recorded schema with a commit's frame schema —
    the manifest-schema evolution rule: fields merge BY NAME, a
    same-name type mismatch is a loud TypeError (never a silent
    cast — the read_snapshot_evolving policy), field order is
    prev-then-appended (so existing readers see stable column order),
    and nullability is relaxed recursively before comparing and
    storing (`_nullable_type` — nullability differences are
    data-compatible, never drift)."""
    if prev is None:
        fields = []
        have = {}
    else:
        fields = [
            T.StructField(f.name, _nullable_type(f.dataType), True)
            for f in prev.fields
        ]
        have = {f.name: _nullable_type(f.dataType) for f in prev.fields}
    for f in new.fields:
        want = _nullable_type(f.dataType)
        got = have.get(f.name)
        if got is None:
            fields.append(T.StructField(f.name, want, True))
        elif got != want:
            raise TypeError(
                f"schema drift on {f.name!r}: table records {got}, "
                f"commit brings {want} — refusing to cast "
                "silently (rewrite the table or conform the frame)"
            )
    return T.StructType(fields)


def _manifest_schema(spark: SparkSession, manifest: dict):
    """The snapshot's table schema: the manifest's recorded schema
    (written by every commit since r11 — the Iceberg move: schema is
    table metadata, not a footer sample), falling back for
    pre-change manifests to a one-time mergeSchema footer union over
    the manifest's file list. Every read path derives its schema
    here, so the result shape can never depend on predicate
    selectivity or footer sampling order."""
    if "schema" in manifest:
        return T.StructType.fromJson(manifest["schema"])
    files = manifest["files"]
    if not files:
        raise ValueError(
            "manifest lists zero files and records no schema — "
            "corrupt or hand-edited manifest?"
        )
    return (
        spark.read.option("mergeSchema", "true").parquet(*files).schema
    )


def _commit_manifest(
    table_path: str,
    version: int,
    kept: list[str],
    new_files: list[str] = (),
    prev_manifest: dict | None = None,
    txn: str | None = None,
    stat_columns: list[str] | None = None,
    schema=None,
) -> None:
    """Atomically publish ``_v{version}.manifest.json`` listing the
    files ``kept`` by reference from ``prev_manifest`` plus
    ``new_files``. Stats: ``stat_columns`` is inherited from the
    previous manifest unless given (none for a table's first commit,
    ``prev_manifest`` omitted); kept files CARRY their recorded
    entries and new files get footer stats.

    The commit point is an ``os.link`` create-if-absent (POSIX
    ``link(2)`` fails with EEXIST if the target exists), NOT a bare
    rename — ``rename(2)`` clobbers, so two concurrent writers that
    both computed prev=N would silently lose the first commit. With
    link, the loser gets FileExistsError and must retry against the
    new latest version (optimistic-concurrency, the Iceberg/Delta
    commit protocol)."""
    prev_manifest = prev_manifest or {}
    manifest = {"version": version, "files": sorted([*kept, *new_files])}
    if txn is not None:
        manifest["txn"] = txn
    if schema is not None:
        # the table's column contract (union across generations,
        # types strict) — reads plan against THIS, never a footer
        # sample, so result shape can't vary with file pruning
        manifest["schema"] = schema.jsonValue()
    if stat_columns is None:
        stat_columns = prev_manifest.get("stat_columns")
    if stat_columns is not None:
        # file-grain data-skipping statistics (Iceberg manifest
        # lower/upper bounds reduced to load-bearing parts): which
        # columns this table records, and per-file min/max bands —
        # read_snapshot(predicate=...) prunes files on these before
        # any scan plans
        prev_stats = prev_manifest.get("stats", {})
        stats = {f: prev_stats[f] for f in kept if f in prev_stats}
        stats.update(_collect_file_stats(new_files, list(stat_columns)))
        manifest["stat_columns"] = list(stat_columns)
        manifest["stats"] = stats
    tmp = os.path.join(
        table_path, f"._v{version}.{uuid.uuid4().hex[:8]}.tmp"
    )
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    target = _manifest_path(table_path, version)
    try:
        os.link(tmp, target)
    except FileExistsError:
        raise RuntimeError(
            f"concurrent commit detected: {target} already exists — "
            "re-read the latest version and retry the operation"
        ) from None
    finally:
        os.unlink(tmp)
    if txn is not None:
        # O(1) txn lookup marker, hard-linked at the manifest's inode
        # AFTER the commit point — losing it to a crash only degrades
        # the next lookup to the manifest scan (see _txn_version)
        try:
            os.link(target, _txn_marker_path(table_path, txn))
        except FileExistsError:
            pass


def _txn_marker_path(table_path: str, txn_id: str) -> str:
    """Marker filename for a txn id — hashed so arbitrary ids are
    path-safe; the marker itself verifies the full id."""
    h = hashlib.md5(txn_id.encode()).hexdigest()[:16]
    return os.path.join(table_path, f"_txn-{h}.marker.json")


def _txn_version(table_path: str, txn_id: str) -> int | None:
    """Version whose manifest records ``txn_id``, or None.

    Fast path: the commit hard-links a per-txn MARKER at the manifest
    (same inode), so the lookup every new commit pays is one O(1)
    stat+read — a streaming sink committing its 10,000th batch must
    not re-parse 10,000 growing manifests. The marker link is placed
    AFTER the manifest commit point, so a crash between the two can
    lose only the marker — the slow path (scan all manifests, one
    JSON read each) still finds the txn and idempotence holds."""
    marker = _txn_marker_path(table_path, txn_id)
    if os.path.exists(marker):
        with open(marker) as fh:
            m = json.load(fh)
        if m.get("txn") == txn_id:  # md5-prefix collision check
            return m["version"]
    for v in _list_versions(table_path):
        if _read_manifest(table_path, v).get("txn") == txn_id:
            return v
    return None


def commit_snapshot(
    spark: SparkSession,
    table_path: str,
    df: DataFrame,
    txn_id: str | None = None,
    stat_columns: list[str] | None = None,
) -> int:
    """Append ``df`` to a MANIFEST-VERSIONED table and commit a new
    snapshot; returns the new version number. The time-travel
    primitive (the Iceberg/Delta snapshot model reduced to its load-
    bearing parts, built on nothing but parquet + an atomic manifest publish —
    same commit discipline as the b15 Data Source writer):

    - data files land under ``data/v{N}-{attempt}/`` (unique per
      commit ATTEMPT, never rewritten — appends don't touch existing
      bytes, and a re-commit after a crashed attempt can't collide
      with the crash's orphaned directory);
    - snapshot N's manifest ``_v{N}.manifest.json`` lists EVERY file
      visible at version N (previous snapshot's list + the new
      files), written to a tmp name then atomically LINKED into place
      (create-if-absent: a concurrent writer that raced to the same
      version fails loudly instead of clobbering the winner's commit
      — optimistic concurrency, see `_commit_manifest`) — a crashed
      commit leaves data files but no manifest, so readers never see
      partial snapshots;
    - readers (`read_snapshot`) load exactly a manifest's file list:
      old versions stay byte-stable forever ⇒ reproducible reads
      (the training-data requirement: a dataset release pinned to
      version N re-reads identically after any number of appends).

    ``txn_id`` makes the commit IDEMPOTENT (Delta's txn appId/version
    idea): each manifest records the id that committed it, and a
    commit whose ``txn_id`` already appears in ANY manifest returns
    that version without writing a byte — at-least-once delivery
    (streaming redelivery, job retries) yields exactly-once table
    state. A crash after the data write but before the manifest
    publish leaves only orphans (vacuum's job), so the retry
    re-commits cleanly; two racers with the same txn_id are settled
    by the create-if-absent manifest publish — the loser re-checks
    and adopts the winner's version.

    ``stat_columns`` turns on FILE-GRAIN DATA SKIPPING (Iceberg's
    manifest lower/upper bounds): the manifest records each new file's
    parquet-footer min/max for those columns (metadata-only — no row
    decodes), carried files keep their recorded bands, and later
    commits INHERIT the column set automatically, so one opt-in at
    table creation keeps the whole history prunable.
    ``read_snapshot(predicate=...)`` then skips files whose bands
    can't match before Spark ever plans a scan — at 100 TB this is
    what makes a selective snapshot read O(matching files) instead of
    O(table files): partition pruning without partitioning the
    directory layout.

    At 100 TB the manifest is file-grain metadata (KBs per thousand
    files) and commits are O(new files) — never a lake rewrite.
    """
    if txn_id is not None:
        committed = _txn_version(table_path, txn_id)
        if committed is not None:
            return committed
    prev = _latest_version(table_path)
    version = prev + 1
    prev_manifest = _read_manifest(table_path, prev) if prev else {}
    files = prev_manifest.get("files", [])
    # refuse type drift BEFORE any bytes land: a retyped column must
    # not pay a full data write (and leave orphan files) per attempt
    schema = _merge_table_schema(
        _manifest_schema(spark, prev_manifest) if prev else None, df.schema
    )
    new_files = _write_data_files(df, table_path, version)
    try:
        _commit_manifest(
            table_path,
            version,
            files,
            new_files,
            prev_manifest,
            txn=txn_id,
            stat_columns=stat_columns,
            schema=schema,
        )
    except RuntimeError:
        if txn_id is not None:
            committed = _txn_version(table_path, txn_id)
            if committed is not None:
                return committed  # lost the race to our own retry
        raise
    return version


def _read_manifest_files(
    spark: SparkSession, manifest: dict, files: list[str], schema=None
) -> DataFrame:
    """Scan ``files`` (a subset of the manifest's list) in the
    SNAPSHOT's schema — the one consistency rule every read path goes
    through: whether a predicate pruned zero, some, or no files, the
    result presents the manifest-recorded table schema (late-added
    columns surface as NULL for pre-evolution files), never whichever
    footer Spark happened to sample. A fully-pruned read is an empty
    LocalRelation in the same shape; a zero-file manifest without a
    recorded schema is a loud error (see `_manifest_schema`).
    Operations that read a manifest more than once (CoW delete/upsert
    scan + rewrite + commit) pass ``schema`` to pay the derivation —
    free on post-r11 manifests, a footer-union job on legacy ones —
    exactly once."""
    if schema is None:
        schema = _manifest_schema(spark, manifest)
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*files)


def _read_pruned(
    spark: SparkSession, manifest: dict, files: list[str], conds: list
) -> DataFrame:
    """Read ``files`` of ``manifest`` under the normalized predicate
    ``conds``: drop the files whose recorded stats bands cannot match
    (`_file_may_match`), scan the survivors in the snapshot schema,
    and apply ``conds`` as the residual filter so results never depend
    on the stats. A fully pruned read is the empty frame in the same
    schema; no ``conds`` reads every file unfiltered."""
    if not conds:
        return _read_manifest_files(spark, manifest, files)
    stats = manifest.get("stats", {})
    pruned = [f for f in files if _file_may_match(stats.get(f), conds)]
    df = _read_manifest_files(spark, manifest, pruned)
    return df.where(_predicate_expr(conds)) if pruned else df


def read_snapshot(
    spark: SparkSession,
    table_path: str,
    version: int,
    predicate=None,
) -> DataFrame:
    """Read a manifest-versioned table AS OF ``version`` — exactly the
    files snapshot N committed, regardless of how many snapshots were
    appended since (`commit_snapshot`). A missing manifest is an
    explicit error, never an empty frame (a silently-empty time-travel
    read is how a pinned dataset release quietly becomes a different
    dataset).

    ``predicate`` — one ``(col, op, value)`` condition (op ∈ {==, <,
    <=, >, >=} or ``(col, "between", (lo, hi))``) or a conjunctive
    list — enables MANIFEST-LEVEL DATA SKIPPING when the table records
    stats (`commit_snapshot(stat_columns=...)`): files whose recorded
    min/max bands cannot satisfy every condition are dropped from the
    read BEFORE Spark plans the scan, and the same conditions are then
    applied as a normal pushed-down filter on the surviving files —
    results NEVER depend on the stats (missing bands simply skip
    nothing). The two prune layers compose: the manifest skips whole
    files driver-side with zero tasks; parquet footer stats then skip
    row groups inside survivors. On a table without stats the
    predicate degrades to the plain filter."""
    manifest = _read_manifest(table_path, version)
    conds = _normalize_predicate(predicate)
    if not manifest["files"]:
        raise ValueError(
            f"snapshot v{version} of {table_path} lists zero files — "
            "corrupt or hand-edited manifest?"
        )
    return _read_pruned(spark, manifest, manifest["files"], conds)


def read_snapshot_evolving(
    spark: SparkSession,
    table_path: str,
    version: int,
    expected: "StructType | None" = None,
) -> DataFrame:
    """`read_snapshot` for a table whose COMMITS SPAN SCHEMA VERSIONS
    — b9's evolving-lake contract composed with b18's time travel
    (VERDICT r09 task 6). A long-lived snapshot table accretes columns
    across releases while old files are never rewritten, so a version
    whose manifest mixes generations needs ``mergeSchema`` (union of
    the listed files' footers: late-added columns surface as NULL for
    pre-evolution files instead of silently vanishing behind whichever
    footer the default reader sampled), and an old version read TODAY
    needs the CURRENT contract applied — ``expected`` conforms the
    result exactly as `load_evolving` does: missing columns
    materialize as typed NULLs (reading v1 under the v2 contract gives
    the v2 shape with NULL history — schema time travel without data
    time travel), extra columns drop, and a TYPE-drifted column is a
    loud TypeError, never a silent cast.

    Footer merging is metadata-only and scoped to the manifest's file
    list; column pruning and filter pushdown still reach the scan."""
    manifest = _read_manifest(table_path, version)
    df = _read_manifest_files(spark, manifest, manifest["files"])
    if expected is None:
        return df
    return _conform(df, expected, f"snapshot v{version}")


def read_increment(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int,
    predicate=None,
) -> DataFrame:
    """Read exactly the rows ADDED between two snapshots of a
    manifest-versioned table (`commit_snapshot`) — the incremental-
    consumer pattern: a downstream job pins the last version it
    processed and reads only newer files, never rescanning the table
    (L1's high-watermark move lifted from row timestamps to snapshot
    file sets, exact by construction because commits are append-only
    and files are never rewritten). ``from_version = 0`` means "from
    the beginning" (the bootstrap read ≡ the full to_version
    snapshot).

    ``predicate`` composes manifest-level data skipping with the CDC
    read (same contract as `read_snapshot`): on a stats-recording
    table the increment's files are band-pruned before planning, the
    residual filter keeps results stats-independent, and a fully
    pruned increment returns an EMPTY frame in the snapshot's schema
    (not an error — an increment that exists but contains nothing
    matching is a normal selective-consumer outcome, unlike a
    nonexistent increment, which still raises)."""
    to_manifest = _read_manifest(table_path, to_version)
    from_files = (
        set(_read_manifest(table_path, from_version)["files"])
        if from_version
        else set()
    )
    new = sorted(set(to_manifest["files"]) - from_files)
    if not new:
        raise ValueError(
            f"no files added between v{from_version} and v{to_version}"
        )
    return _read_pruned(
        spark, to_manifest, new, _normalize_predicate(predicate)
    )


def compact_snapshot(
    spark: SparkSession,
    table_path: str,
    num_files: int | None = None,
) -> int:
    """Small-file COMPACTION as a new snapshot on a manifest-versioned
    table (Iceberg's ``rewrite_data_files`` reduced to its load-bearing
    parts): read the LATEST snapshot, rewrite its content through the
    AQE REBALANCE writer into few right-sized files, and commit a
    manifest listing ONLY the new files. Content is row-identical by
    construction; prior versions keep reading the old files (time
    travel works ACROSS a compaction), and the old files become
    reclaimable once no live manifest references them (vacuum is a
    directory walk against the manifest union — metadata-only).

    The snapshot-family maintenance move a streaming lake sink needs:
    b14's per-batch commits accumulate micro-files; this folds them
    without blocking readers (the manifest publish is the only commit
    point, same crash discipline as `commit_snapshot` — a crashed
    compaction leaves orphan data files but no manifest, so readers
    never see it). NOTE: `read_increment` remains valid only between
    APPEND commits — a compaction rewrites files without adding rows,
    so file-set differences across it are not row increments.

    Scale shape: one full read + write of the CURRENT content — the
    cost every compactor pays — but zero manifest-history rewrites and
    no reader downtime. Returns the new version number.
    """
    prev, prev_manifest, table_schema = _latest_manifest(spark, table_path)
    version = prev + 1
    # read in the TABLE schema (manifest-recorded), not a footer
    # sample: compacting an evolved table must rewrite every row in
    # the full table shape or the rewrite silently drops late-added
    # columns from pre-evolution files' rows
    df = _read_manifest_files(
        spark, prev_manifest, prev_manifest["files"], schema=table_schema
    )
    # repartition, NOT coalesce: coalesce on top of the rebalance hint
    # collapses the AQE-rebalanced partitions through a narrow
    # dependency — undoing the size balancing AND capping the read
    # side's parallelism at num_files. A full shuffle keeps the scan
    # wide and sizes the write side independently.
    df = df.repartition(num_files) if num_files else df.hint("rebalance")
    new_files = _write_data_files(df, table_path, version)
    _commit_manifest(
        table_path,
        version,
        [],
        new_files,
        prev_manifest,
        schema=table_schema,
    )
    return version


def vacuum_snapshots(
    table_path: str,
    keep_versions: int = 1,
    dry_run: bool = False,
    min_file_age_seconds: float = 3600.0,
) -> dict:
    """Garbage-collect a manifest-versioned table: retain the newest
    ``keep_versions`` manifests, delete older manifests, and delete
    every data file referenced by NO retained manifest (files shared
    with a retained version — copy-on-write carry-overs — survive).
    Returns ``{"kept_versions": [...], "deleted_manifests": n,
    "deleted_files": n, "freed_bytes": n}``; ``dry_run`` reports
    without deleting.

    The reclamation half of the lifecycle: appends/merges/compactions
    never delete bytes (that is what keeps time travel and CDC exact),
    so storage is bounded by an explicit, separate retention decision
    — same split as Delta VACUUM / Iceberg expire_snapshots. Vacuuming
    TRUNCATES history: time travel below the retention floor and
    increments FROM vacuumed versions become errors (loud, because the
    manifests are gone — never silently wrong data). It also truncates
    the TXN-ID history `commit_snapshot`'s idempotence check scans
    (txn ids live in the manifests): a redelivery of a batch whose
    manifest was vacuumed re-commits as new rows. Txn idempotence
    therefore holds only within the vacuum retention window — the same
    contract as Delta, whose VACUUM retention must exceed the longest
    possible redelivery lag; size ``keep_versions`` (or vacuum
    cadence) above the source's redelivery horizon.

    CONCURRENCY: vacuum is NOT safe against an in-flight commit —
    a writer that has flushed data files but not yet published its
    manifest looks exactly like a crash orphan, and deleting those
    files would let the writer publish a manifest referencing missing
    bytes (silent data loss). Two defenses, both on: run vacuum from
    the table's single maintenance owner under the same exclusion as
    commits, AND ``min_file_age_seconds`` (default 1 h, Delta's
    retention-check idea) skips any unreferenced file younger than
    the threshold — an in-flight write's files are by definition
    young, so even a scheduling mistake reclaims only files that have
    been orphaned for at least the window. Set 0 only in tests.

    Metadata-only cost: one manifest-union set difference + a
    directory walk — no Spark job, no data read, O(files) regardless
    of table bytes.
    """
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    versions = _list_versions(table_path)
    if not versions:
        raise ValueError(f"no committed snapshot under {table_path}")
    kept = versions[-keep_versions:]
    dropped = versions[: -keep_versions] if keep_versions < len(versions) else []

    live = {
        os.path.abspath(f)
        for v in kept
        for f in _read_manifest(table_path, v)["files"]
    }
    # every file under data/ not referenced by a retained manifest —
    # covers dropped versions' exclusive files AND crash-orphaned
    # attempt directories that never got a manifest
    data_root = os.path.join(table_path, "data")
    on_disk = set()
    for dirpath, _dirnames, filenames in os.walk(data_root):
        for f in filenames:
            if f.endswith(".parquet"):
                on_disk.add(os.path.join(dirpath, f))
    now = time.time()
    doomed = sorted(
        f
        for f in on_disk
        if os.path.abspath(f) not in live
        and now - os.path.getmtime(f) >= min_file_age_seconds
    )
    freed = sum(os.path.getsize(f) for f in doomed if os.path.exists(f))
    if not dry_run:
        for f in doomed:
            os.remove(f)
        # bottom-up: a directory whose parquet files are all gone is
        # dead — clear its writer sidecars (_SUCCESS, .crc) and remove
        # it; directories still holding live parquet (or live
        # subdirectories) are untouched
        for dirpath, _dirnames, _filenames in os.walk(
            data_root, topdown=False
        ):
            if dirpath == data_root:
                continue
            entries = os.listdir(dirpath)
            alive = any(
                e.endswith(".parquet")
                or os.path.isdir(os.path.join(dirpath, e))
                for e in entries
            )
            if not alive:
                for e in entries:
                    os.remove(os.path.join(dirpath, e))
                os.rmdir(dirpath)
        for v in dropped:
            os.remove(_manifest_path(table_path, v))
        # txn markers hard-link manifest inodes, so a dropped
        # manifest's marker would keep answering with a vacuumed
        # version — drop markers below the retention floor too
        kept_set = set(kept)
        for f in os.listdir(table_path):
            if f.startswith("_txn-") and f.endswith(".marker.json"):
                mp = os.path.join(table_path, f)
                with open(mp) as fh:
                    if json.load(fh).get("version") not in kept_set:
                        os.remove(mp)
    return {
        "kept_versions": kept,
        "deleted_manifests": len(dropped),
        "deleted_files": len(doomed),
        "freed_bytes": freed,
    }


def delete_where_snapshot(
    spark: SparkSession, table_path: str, condition
) -> int:
    """COPY-ON-WRITE DELETE on a manifest-versioned table
    (`commit_snapshot`): commit a new snapshot in which rows matching
    ``condition`` are gone — rewriting ONLY the files that contain a
    match (file-level pruning: untouched files carry over by
    reference, zero bytes moved) and leaving every prior snapshot
    readable as-was (deletes are new versions, not mutations — the
    audit/time-travel property). Returns the new version number.

    NULL predicate results count as non-matching on BOTH sides of the
    split (a row must be kept by exactly one of delete/survive).
    Scale shape: the hit-file discovery is one pruned scan collecting
    a FILE list (bounded by file count, not rows — and Catalyst
    pushes ``condition`` into the scan, so footer stats skip clean
    files before any row decodes); the rewrite is O(files-with-
    matches). A delete touching 1 of 10⁶ files rewrites one file.
    """
    prev, prev_manifest, table_schema = _latest_manifest(spark, table_path)
    files = prev_manifest["files"]
    hit = F.coalesce(condition, F.lit(False))
    # table-schema reads (manifest-recorded): the rewrite of an
    # evolved table must keep rows in the full table shape, and the
    # hit predicate must see late-added columns as NULL on
    # pre-evolution files instead of failing to resolve
    df = _read_manifest_files(
        spark, prev_manifest, files, schema=table_schema
    ).withColumn("__file", F.input_file_name())
    hit_uris = {
        r["__file"]
        for r in df.filter(hit).select("__file").distinct().collect()
    }
    keep, rewrite = _resolve_hit_files(
        hit_uris, files, "delete_where_snapshot"
    )
    version = prev + 1
    new_files: list[str] = []
    if rewrite:
        survivors = _read_manifest_files(
            spark, prev_manifest, rewrite, schema=table_schema
        ).filter(~hit)
        new_files = _write_data_files(survivors, table_path, version)
    _commit_manifest(
        table_path,
        version,
        keep,
        new_files,
        prev_manifest,
        schema=table_schema,
    )
    return version


def upsert_snapshot(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    keys: tuple[str, ...],
) -> int:
    """Copy-on-write MERGE (upsert) on a manifest-versioned table:
    commit ONE new snapshot in which every row whose key appears in
    ``updates`` is replaced by the update row and new keys append —
    the L2 replace-then-append merge at lake-snapshot grain, atomic
    because the single manifest publish (create-if-absent link) is the only commit point (a
    crash mid-merge leaves the prior snapshot current and only
    orphaned data files behind — exactly `commit_snapshot`'s
    discipline). Only files CONTAINING a matched key rewrite (the
    key semi-join pushes into the scan; clean files carry over by
    reference), updates land as fresh files, and prior snapshots stay
    readable as-was. Returns the new version.

    NULL key values never match (SQL join semantics): a NULL-keyed
    lake row is never replaced and a NULL-keyed update row appends —
    callers merging on nullable keys should surrogate them first.

    Scale shape: discovery is one pruned scan collecting a file list;
    the rewrite is O(files-with-matches) + O(updates) — an increment
    touching 1 of 10⁶ files rewrites one file, never the lake.
    """
    prev, prev_manifest, table_schema = _latest_manifest(spark, table_path)
    files = prev_manifest["files"]
    # refuse type drift BEFORE any scan or write happens (the
    # commit_snapshot rule: a retyped update column must not pay the
    # rewrite and leave orphans per attempt)
    merged_schema = _merge_table_schema(table_schema, updates.schema)
    key_rows = updates.select(*keys).distinct()
    cur = _read_manifest_files(
        spark, prev_manifest, files, schema=table_schema
    ).withColumn("__file", F.input_file_name())
    hit_uris = {
        r["__file"]
        for r in cur.join(key_rows, list(keys), "left_semi")
        .select("__file")
        .distinct()
        .collect()
    }
    keep, rewrite = _resolve_hit_files(hit_uris, files, "upsert_snapshot")
    version = prev + 1
    new_files: list[str] = []
    if rewrite:
        survivors = _read_manifest_files(
            spark, prev_manifest, rewrite, schema=table_schema
        ).join(key_rows, list(keys), "left_anti")
        new_files = _write_data_files(survivors, table_path, version)
    new_files += _write_data_files(updates, table_path, version)
    _commit_manifest(
        table_path,
        version,
        keep,
        new_files,
        prev_manifest,
        schema=merged_schema,
    )
    return version
