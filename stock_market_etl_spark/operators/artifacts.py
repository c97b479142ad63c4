"""The release-artifact protocol, in one place.

A release artifact is a directory ``path/{data dirs…, meta}`` written
once per corpus or eval release: one or more parquet data dirs plus a
one-row ``meta`` sidecar that records the artifact's identity
parameters (window width k, vector dim, LSH params, bloom geometry,
histogram bins, …). Readers — batch probes, and the streaming gates
that read a release once at sink setup — trust the data dirs only
through that sidecar, so the protocol makes every crash state read as
a missing or malformed sidecar, never as a silently wrong artifact:

- **Data before meta.** `write_release` writes every data dir, then
  the meta; a crash before the meta write leaves it absent.
- **In-place rebuild** (mode ``overwrite``). The sidecar is emptied
  FIRST (`invalidate_meta`). Without that, a rebuild dying between its
  writes leaves new data under the stale identity, which readers
  accept whenever it happens to fit (a k=8 meta over a bitmap rebuilt
  at k=4 probes pure noise). With it, every crash window of the
  rebuild reads as the malformed-meta refusal; the final meta write
  restores validity.
- **Write-once publish** (mode ``error``). A path that already holds
  a release refuses at the first data write, before anything is
  touched — a merged plan still lazily reads the previous release's
  files, so an in-place overwrite would read-under-write its own
  input. If the META write fails, the data dirs and any partially
  created meta dir are removed best-effort, so a retry to the same
  path succeeds (that branch runs only after a mode-``error`` data
  write succeeded, proving no complete prior release lived there).
  If the cleanup itself fails, readers still refuse; recover by
  deleting the release dir and publishing again.
- **One reader.** `read_required_meta` turns a missing, empty,
  multi-row or null-field sidecar into a loud ValueError naming the
  rebuild seam.
- **Provenance.** A merge tags its result with the identity it
  validated (`tag_release`), and `write_release` refuses to record a
  contradicting identity before any write. The tag is best-effort —
  any transformation of the DataFrame drops it — so each publish's
  required identity parameter stays the contract.

Each artifact family keeps only what is specific to it: its data dir
names, its meta schema string, and what its identity means.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, DataFrameWriter, SparkSession

from stock_market_etl_spark.operators import _compat

#: The one provenance attribute a merge result carries:
#: ``(label, identity values)`` — see `tag_release`.
_TAG = "_release_identity"


def read_if_exists(
    spark: SparkSession, path: str
) -> DataFrame | None:
    """Parquet read that returns None when the table does not exist
    yet (a bootstrap state) and RE-RAISES any other read error —
    swallowing a real failure would fork a parallel output (the
    upsert_sink policy). The single home of the PATH_NOT_FOUND
    classification (review r15 — it existed inline in four ingest
    sinks; a Spark error-class rename fixed in one copy would leave
    the others mis-classifying real read errors as bootstrap).
    Moved here from streaming/core so batch artifact readers can
    share it without importing the streaming layer."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if (
            "PATH_NOT_FOUND" not in _condition(exc)
            and "Path does not exist" not in str(exc)
        ):
            raise
        return None


def _condition(exc: AnalysisException) -> str:
    """The Spark error class of ``exc`` (its message if it has none).
    getCondition is the Spark 4 name; getErrorClass the deprecated
    3.x one (it warns on call) — absorbing that drift here keeps the
    classifications below on one spelling (review r15, pass 5)."""
    getter = getattr(exc, "getCondition", None) or getattr(
        exc, "getErrorClass", None
    )
    return (getter() if getter is not None else "") or str(exc)


def read_required_meta(
    spark: SparkSession,
    path: str,
    fields: tuple[str, ...],
    what: str,
    rebuild_with: str,
    required: bool = True,
) -> tuple[int, ...] | None:
    """Load and validate a ``path/meta`` identity sidecar as a tuple
    of ints in ``fields`` order — the only meta reader of the family.
    A missing, empty, multi-row, or null-field sidecar — what a
    crashed (re)build or publish leaves behind — raises a ValueError
    naming ``what`` and the rebuild seam. With ``required=False`` an
    ABSENT meta dir returns None instead (the IVF streaming-maintained
    layout) while a present-but-malformed one still refuses — so does
    a present dir holding no data file (a meta job that died after
    creating its output dir), whose schema Spark cannot infer."""
    try:
        meta = read_if_exists(spark, f"{path}/meta")
    except AnalysisException as exc:
        if "UNABLE_TO_INFER_SCHEMA" not in _condition(exc):
            raise
        rows = []
    else:
        if meta is None and not required:
            return None
        rows = [] if meta is None else meta.collect()
    if len(rows) != 1 or any(rows[0][f] is None for f in fields):
        raise ValueError(
            f"{what} at {path} has a missing or malformed meta "
            "sidecar — artifact incomplete or corrupt: a (re)build "
            "crashed between its data and meta writes, so the data "
            "dirs may be from different builds; rebuild with "
            f"{rebuild_with}"
        )
    return tuple(int(rows[0][f]) for f in fields)


def invalidate_meta(
    spark: SparkSession, path: str, schema: str
) -> None:
    """Overwrite ``path/meta`` with a ZERO-row table of the family's
    meta ``schema`` — the first step of an in-place rebuild (see the
    module docstring)."""
    spark.createDataFrame([], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")


def tag_release(
    df: DataFrame, label: str, values: tuple[int, ...]
) -> DataFrame:
    """Tag a merge result with the identity ``values`` it validated
    (``label`` names them in the refusal, e.g. ``"width"``), so
    `write_release` can refuse to publish it under a contradicting
    identity. Returns ``df``."""
    setattr(df, _TAG, (label, tuple(int(v) for v in values)))
    return df


def write_release(
    spark: SparkSession,
    path: str,
    parts: dict[str, DataFrame | DataFrameWriter],
    meta_schema: str,
    meta_values: tuple[int, ...],
    mode: str,
) -> None:
    """Write one release artifact: the data dirs ``parts`` (ordered
    ``{dir name: DataFrame or configured DataFrameWriter}``), then the
    one-row identity sidecar ``meta_values`` under ``meta_schema`` —
    the only writer of the family. ``mode="overwrite"`` is the
    in-place rebuild (sidecar emptied first); ``mode="error"`` the
    write-once publish (a failed meta write cleans up, then
    re-raises). See the module docstring for why."""
    values = tuple(int(v) for v in meta_values)
    names = [f.split()[0] for f in meta_schema.split(",")]
    for part in parts.values():
        # a column named like the tag makes getattr return a Column;
        # only a tuple tag is honored
        tag = getattr(part, _TAG, None)
        if isinstance(tag, tuple) and tag[1] != values:
            raise ValueError(
                f"DataFrame carries validated {tag[0]} "
                f"{_render(names, tag[1])} but publish to {path} was "
                f"asked to record {_render(names, values)} — a wrong "
                "recorded identity makes every later read of the "
                "release silently wrong; pass the values it was "
                "merged/built at"
            )
    if mode == "overwrite":
        invalidate_meta(spark, path, meta_schema)
    _write_parts(path, parts, mode)
    try:
        _write_meta(spark, path, meta_schema, values, mode)
    except Exception:
        if mode == "error":
            _compat.best_effort_delete(
                spark, *(f"{path}/{d}" for d in (*parts, "meta"))
            )
        raise


def _render(names: list[str], values: tuple[int, ...]) -> str:
    return ", ".join(f"{n}={v}" for n, v in zip(names, values))


def _write_parts(
    path: str, parts: dict[str, DataFrame | DataFrameWriter], mode: str
) -> None:
    """The data half of `write_release`, one parquet dir per part
    (its own function so a test can kill the rebuild mid-data)."""
    for name, part in parts.items():
        writer = part.write if isinstance(part, DataFrame) else part
        writer.mode(mode).parquet(f"{path}/{name}")


def _write_meta(
    spark: SparkSession,
    path: str,
    schema: str,
    values: tuple[int, ...],
    mode: str,
) -> None:
    """The sidecar half of `write_release`: one row, one file (its
    own function so a test can kill a write between data and meta)."""
    spark.createDataFrame([values], schema).coalesce(1).write.mode(
        mode
    ).parquet(f"{path}/meta")
