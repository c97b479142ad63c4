"""Shuffle-width sizing: an explicit ``shuffle_partitions`` wins, a
width the session already carries is kept, and otherwise the width is
the context's ``defaultParallelism`` — and every width-sized layer
(``fanout_width``, ``spread``, ``shuffle_width``) reads that one value.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from tests.conftest import REPO_ROOT

_WIDTH = "spark.sql.shuffle.partitions"


def test_prepare_session_sizes_an_unset_width_to_the_cores(spark):
    from stock_market_etl_spark.operators.parallelism import fanout_width, spread
    from stock_market_etl_spark.session import prepare_session, shuffle_width

    # a fresh session on the same context: no width set yet, the way
    # a driver hands one over
    fresh = spark.newSession()
    assert fresh.conf.get(_WIDTH, None) is None
    prepare_session(fresh)
    cores = spark.sparkContext.defaultParallelism
    assert shuffle_width(fresh) == cores
    df = fresh.range(10)
    assert fanout_width(df) == cores
    assert spread(df).rdd.getNumPartitions() == cores

    # a width the session carries survives repeated preparation ...
    fresh.conf.set(_WIDTH, "7")
    prepare_session(fresh)
    assert shuffle_width(fresh) == 7
    # ... and an explicit argument overrides it
    prepare_session(fresh, shuffle_partitions=9)
    assert shuffle_width(fresh) == 9
    assert fanout_width(fresh.range(3)) == 9


def test_fixture_session_runs_at_its_requested_width(spark):
    """The tier-1 fixture asks for ``shuffle_partitions=$SPARK_GRAFT_CPUS``
    and must get it (a runtime-conf re-assert used to force 32)."""
    from stock_market_etl_spark.session import shuffle_width

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    assert shuffle_width(spark) == cpus


_FRESH_CONTEXTS = textwrap.dedent(
    """
    import os, sys
    sys.path.insert(0, {root!r})
    from pyspark.sql import SparkSession
    from stock_market_etl_spark.session import get_spark, shuffle_width

    W = "spark.sql.shuffle.partitions"

    # driver contract: a plain local[32] session keeps width 32
    import __spark_entry__ as E
    s = (SparkSession.builder.master("local[32]")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "1g").getOrCreate())
    assert E.entry(s).count() > 0
    assert shuffle_width(s) == 32, s.conf.get(W)
    s.stop()

    # no argument: the started context's cores, not $SPARK_GRAFT_CPUS
    s = get_spark(app_name="w", master="local[3]")
    assert shuffle_width(s) == s.sparkContext.defaultParallelism == 3
    s.stop()

    # an explicit argument wins
    s = get_spark(app_name="w", master="local[2]", shuffle_partitions=5)
    assert shuffle_width(s) == 5, s.conf.get(W)
    s.stop()
    print("OK")
    """
)


def test_fresh_contexts_get_core_sized_or_explicit_width():
    env = dict(os.environ, SPARK_GRAFT_CPUS="6", SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", _FRESH_CONTEXTS.format(root=REPO_ROOT)],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO_ROOT,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().endswith("OK"), out.stdout[-2000:]
