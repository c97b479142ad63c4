"""Serving-store sinks (SURVEY §2.B3-B6): JDBC append/overwrite, Spark
warehouse tables, predicate delete, CSV snapshot.

The reference serves from Postgres via SQLAlchemy
(`scripts/load_stock_metrics.py:89`, `scripts/load_sp500.py:51`). The
engine's self-contained serving store is a Spark SQL table; the JDBC
wrappers carry the same semantics to an external RDBMS when one exists
(not exercisable in this container — no database — but the call shape
is the production one: partition-parallel writes, bounded batch sizes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def jdbc_append(
    df: DataFrame, url: str, table: str, properties: dict | None = None
) -> None:
    """B3: append rows to an RDBMS table (reference
    `scripts/load_stock_metrics.py:89`). Each Spark partition opens one
    connection and writes batched inserts — cap parallelism with
    ``df.coalesce(n)`` so a 1000-task job doesn't open 1000 connections.
    """
    df.write.mode("append").jdbc(url, table, properties=properties or {})


def jdbc_overwrite(
    df: DataFrame, url: str, table: str, properties: dict | None = None
) -> None:
    """B4: replace an RDBMS table wholesale (reference
    `scripts/load_sp500.py:51` — the ~503-row dimension)."""
    df.write.mode("overwrite").jdbc(url, table, properties=properties or {})


def save_serving_table(
    df: DataFrame, name: str, path: str | None = None, mode: str = "append"
) -> None:
    """B3/B4 in-engine: persist to a Spark SQL table (the self-contained
    serving store). ``path`` makes it external — the lake stays the
    source of truth and the table is just a pointer."""
    writer = df.write.mode(mode)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(name)


def delete_where(
    spark: SparkSession, name: str, predicate: str
) -> None:
    """B5: predicate DELETE (reference ``DELETE FROM stock_metrics WHERE
    date = :today``, `scripts/load_stock_metrics.py:57-61`).

    DataFrames have no DELETE; the engine form is filter-and-overwrite
    (recompute semantics). A table format (Delta/Iceberg) would do this
    as a metadata-only operation; on plain parquet it is a rewrite of
    the table, so keep serving tables partitioned so the rewrite prunes.
    """
    kept = spark.table(name).filter(f"NOT ({predicate})")
    # sever lineage from the table being overwritten (same pattern as
    # pipeline.run_increment)
    kept = kept.localCheckpoint(eager=True)
    kept.write.mode("overwrite").insertInto(name, overwrite=True)


def csv_snapshot(df: DataFrame, path: str) -> None:
    """B6: CSV snapshot of a small dimension (reference, dormant:
    `scripts/ingest_backfill_sp500.py:35-39`). coalesce(1) mirrors the
    reference's single-file expectation — only sane for dims."""
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)


def jdbc_upsert(
    df: DataFrame,
    url: str,
    table: str,
    keys: tuple[str, ...],
    properties: dict | None = None,
    max_delete_keys: int = 10_000,
) -> None:
    """B3+B5 composed: key-grain delete-then-append — the reference's
    serving load verbatim (`scripts/load_stock_metrics.py:57-61` DELETE
    today + `:89` insert increment), generalized from `date = :today`
    to any key tuple. Re-running the same increment first deletes its
    own earlier rows, so the composition is idempotent at key grain —
    the JDBC mirror of the L2 lake merge.

    The DELETE runs driver-side over ONE JDBC connection with a
    prepared statement per distinct key tuple — a bounded CONTROL
    operation, not a data path: increment key sets are small by
    construction (one date × ≤503 tickers in the reference).
    ``max_delete_keys`` enforces that assumption loudly; past it, use
    a staging table + SQL MERGE instead of row-at-a-time deletes. The
    append itself writes partition-parallel as `jdbc_append`.

    ATOMICITY: the delete commits in its own transaction before the
    append starts (the append is a separate, partition-parallel Spark
    job that cannot share the driver's connection). If the append
    fails after the delete committed, the key range is absent from
    the serving table until a retry succeeds — the retry is safe (the
    delete finds nothing, the append re-inserts) but readers in the
    gap see missing keys. The reference's load has the same window
    (`scripts/load_stock_metrics.py:57-89`, separate DELETE + insert
    transactions). For databases that support it, a staging table +
    single-transaction MERGE closes the gap.

    Credentials travel in ``properties`` — the standard Spark JDBC
    channel (``user``/``password``/``driver``) — and are applied to
    BOTH halves: the delete connection is opened with the full
    property map, the append passes it to ``df.write.jdbc``.
    """
    key_rows = df.select(*keys).distinct().collect()
    if len(key_rows) > max_delete_keys:
        raise ValueError(
            f"{len(key_rows)} distinct key tuples exceeds "
            f"max_delete_keys={max_delete_keys}; stage + MERGE instead"
        )
    jvm = df.sparkSession._jvm
    conn = _jdbc_connection(df.sparkSession, url, properties)
    try:
        conn.setAutoCommit(False)
        # Spark's JDBC writer creates ANSI-quoted (case-sensitive)
        # column names; the delete must quote identically or Derby/
        # Postgres fold the bare name to the wrong case
        where = " AND ".join(f'"{k}" = ?' for k in keys)
        stmt = conn.prepareStatement(
            f"DELETE FROM {table} WHERE {where}"
        )
        try:
            for row in key_rows:
                for i, k in enumerate(keys):
                    _bind_key(jvm, stmt, i + 1, row[k])
                stmt.addBatch()
            stmt.executeBatch()
            conn.commit()
        finally:
            stmt.close()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()
    jdbc_append(df, url, table, properties)


def _jdbc_connection(spark: SparkSession, url: str, properties: dict | None):
    """Open a driver-side JDBC connection the way Spark's own reader
    and writer do: load ``properties["driver"]`` if given and carry
    every other key (user/password and any driver-specific ones) as
    connection properties. The caller closes it."""
    jvm = spark._jvm
    props = properties or {}
    driver = props.get("driver")
    if driver:
        jvm.java.lang.Class.forName(driver)
    jprops = jvm.java.util.Properties()
    for k, v in props.items():
        if k != "driver":
            jprops.setProperty(k, str(v))
    return jvm.java.sql.DriverManager.getConnection(url, jprops)


def _bind_key(jvm, stmt, pos: int, value) -> None:
    """Bind one upsert-key value on the delete statement, converting
    Python types py4j cannot auto-convert (datetime.date/datetime,
    Decimal — the reference's actual key is a DATE, `date = :today`)
    to their java.sql/java.math equivalents. int/str/bool/float pass
    through py4j natively."""
    import datetime
    import decimal

    if isinstance(value, datetime.datetime):
        # Timestamp.valueOf wants "yyyy-[m]m-[d]d hh:mm:ss[.f...]"
        stmt.setTimestamp(
            pos, jvm.java.sql.Timestamp.valueOf(value.strftime("%Y-%m-%d %H:%M:%S.%f"))
        )
    elif isinstance(value, datetime.date):
        stmt.setDate(pos, jvm.java.sql.Date.valueOf(value.isoformat()))
    elif isinstance(value, decimal.Decimal):
        stmt.setBigDecimal(pos, jvm.java.math.BigDecimal(str(value)))
    else:
        stmt.setObject(pos, value)


def jdbc_table_exists(
    spark: SparkSession, url: str, table: str, properties: dict | None = None
) -> bool:
    """Deterministic JDBC-metadata existence probe (DatabaseMetaData
    .getTables), case-insensitive on the table name because databases
    fold unquoted identifiers differently (Derby/Oracle → upper,
    Postgres → lower). Used by bootstrap-or-upsert sinks: a
    schema-read probe can't distinguish "table missing" from transient
    failure, and guessing wrong there would double-append."""
    conn = _jdbc_connection(spark, url, properties)
    try:
        # Scope the probe to the connection's CURRENT schema — the one
        # unqualified writes/upserts resolve against. An unscoped scan
        # would match a same-named table in another schema and route
        # the bootstrap batch to an upsert on a table this connection's
        # default schema does not have.
        try:
            schema = conn.getSchema()
        except Exception:  # pre-JDBC-4.1 drivers: fall back to global
            schema = None
        meta = conn.getMetaData()
        pattern = schema
        if schema is not None:
            # getTables treats schemaPattern as a LIKE pattern: a
            # literal '_' (common in schema names) would also match
            # sibling schemas, partially re-opening the cross-schema
            # false positive this probe exists to close. Escape
            # metacharacters with the driver's declared escape string —
            # and since some drivers declare NO escape (Derby returns
            # ''), additionally compare each row's TABLE_SCHEM exactly.
            esc = meta.getSearchStringEscape() or ""
            if esc:
                pattern = (
                    schema.replace(esc, esc + esc)
                    .replace("_", esc + "_")
                    .replace("%", esc + "%")
                )
        # Fold identifiers the way THIS driver matches unquoted ones.
        # Exact compare is only correct when the backend is truly
        # case-SENSITIVE (supportsMixedCaseIdentifiers); a backend
        # that stores identifiers as written but matches them
        # case-insensitively (SQLite, MySQL lower_case_table_names=2
        # — storesMixed false, supportsMixed false) must fold, or
        # probing 'stock_metrics' against a live 'Stock_Metrics'
        # false-negatives and a bootstrap caller recreates the table.
        # Unconditional lower() would instead false-positive two
        # schemas differing only by case on a case-sensitive backend.
        try:
            if meta.storesUpperCaseIdentifiers():
                fold = str.upper
            elif meta.storesLowerCaseIdentifiers():
                fold = str.lower
            elif meta.supportsMixedCaseIdentifiers():
                fold = str  # genuinely case-sensitive: exact compare
            else:
                fold = str.lower  # stored as-written, matched folded
        except Exception:  # metadata call unsupported: old behavior
            fold = str.lower
        rs = meta.getTables(None, pattern, "%", None)
        try:
            while rs.next():
                if fold(rs.getString("TABLE_NAME")) != fold(table):
                    continue
                row_schema = rs.getString("TABLE_SCHEM")
                if schema is not None and (
                    row_schema is None
                    or fold(row_schema) != fold(schema)
                ):
                    continue  # LIKE-pattern overmatch on a sibling schema
                return True
            return False
        finally:
            rs.close()
    finally:
        conn.close()
