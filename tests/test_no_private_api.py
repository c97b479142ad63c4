"""Private-API containment guard (VERDICT r06 task 4): ``._jdf`` and
``.rdd`` are classic-py4j-only surfaces that break under Spark Connect
and (for ``.rdd``) force a plan→RDD conversion. They may appear ONLY
inside ``operators/_compat.py``, the single documented best-effort
shim module — anywhere else is a regression.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "stock_market_etl_spark"
ALLOWED = {PKG / "operators" / "_compat.py"}

_PATTERN = re.compile(r"\._jdf\b|\.rdd\b")


def _code_lines(path: Path):
    """Source lines with comments and docstring-ish quoting stripped
    enough for this pattern (the pattern never appears in strings we
    care about except docs, which mention it as ``df.rdd`` in quotes)."""
    for i, line in enumerate(path.read_text().splitlines(), 1):
        code = line.split("#", 1)[0]
        yield i, code


def test_private_api_only_in_compat():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path in ALLOWED:
            continue
        for i, code in _code_lines(path):
            if _PATTERN.search(code) and "``" not in code:
                offenders.append(f"{path.relative_to(PKG)}:{i}: {code.strip()}")
    assert not offenders, "private API outside _compat.py:\n" + "\n".join(offenders)


_ARTIFACTS = PKG / "operators" / "artifacts.py"
_PROTOCOL = re.compile(r"/meta[\"']|best_effort_delete\(")


def test_release_protocol_only_in_artifacts():
    """The release-artifact protocol (meta sidecar path, publish crash
    cleanup) has one owner, ``operators/artifacts.py``: a ``/meta``
    path formatted, or ``best_effort_delete`` called, anywhere else is
    a second copy that can drift. ``_compat.py`` may define it."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == _ARTIFACTS:
            continue
        for i, code in _code_lines(path):
            if _PROTOCOL.search(code) and "def best_effort_delete(" not in code:
                offenders.append(f"{path.relative_to(PKG)}:{i}: {code.strip()}")
    assert not offenders, "release protocol outside artifacts.py:\n" + "\n".join(offenders)


def test_release_local_checkpoint_best_effort(spark):
    from stock_market_etl_spark.operators._compat import release_local_checkpoint

    df = spark.range(100).localCheckpoint(eager=True)
    assert release_local_checkpoint(df) is True
    # releasing an unmaterialized plain plan degrades, never raises
    assert release_local_checkpoint(spark.range(5)) in (True, False)


def test_spread_widens_narrow_and_passes_wide(spark, sf_correct):
    from stock_market_etl_spark.operators.parallelism import spread

    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # in-memory frame: zero inputFiles -> always spread to target
    narrow = spark.createDataFrame([(i,) for i in range(10)], "id long")
    out = spread(narrow)
    # .rdd is fine in TESTS (classic-mode harness); the guard above
    # covers only the package
    assert out.rdd.getNumPartitions() == target
    assert out.count() == 10
    # file scan with enough files passes through untouched (plan object
    # identity: spread returns the same DataFrame when wide enough)
    docs = spark.read.parquet(f"{sf_correct}/documents.parquet")
    wide = spread(docs, min_partitions=max(1, len(docs.inputFiles())))
    assert wide is docs
