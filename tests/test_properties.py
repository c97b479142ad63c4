"""Property-based tests (hypothesis) for the engine's analytical core:
window math checked against an independent pandas computation, and merge
semantics checked against set algebra — on generated inputs, not just
the fixtures.

Example counts are kept small and derandomized: each example round-trips
through a Spark job.
"""

from __future__ import annotations

import math

import pandas as pd
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from stock_market_etl_spark.operators.windows import compute_stock_metrics
from stock_market_etl_spark.pipeline import merge_increment

_prices = st.lists(
    st.floats(min_value=1.0, max_value=1000.0, allow_nan=False, width=32),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None, derandomize=True)
@given(series=_prices)
def test_metrics_match_pandas(spark, series):
    """daily_return and rolling_vol_30d must match pandas pct_change +
    rolling(30, min_periods=2).std(ddof=1) on arbitrary price series."""
    rows = [("T", i, float(p)) for i, p in enumerate(series)]
    df = spark.createDataFrame(rows, "ticker string, date int, close double")
    out = (
        compute_stock_metrics(df)
        .orderBy("date")
        .select("daily_return", "rolling_vol_30d")
        .collect()
    )
    s = pd.Series(series, dtype="float64")
    exp_dr = s.pct_change()
    exp_vol = exp_dr.rolling(30, min_periods=2).std(ddof=1)
    for i, row in enumerate(out):
        if pd.isna(exp_dr.iloc[i]):
            assert row.daily_return is None, i
        else:
            assert math.isclose(
                row.daily_return, exp_dr.iloc[i], rel_tol=1e-9, abs_tol=1e-12
            ), i
        if pd.isna(exp_vol.iloc[i]):
            assert row.rolling_vol_30d is None, i
        else:
            assert math.isclose(
                row.rolling_vol_30d, exp_vol.iloc[i], rel_tol=1e-9, abs_tol=1e-12
            ), i


_keysets = st.tuples(
    st.sets(st.integers(min_value=0, max_value=30), max_size=15),
    st.sets(st.integers(min_value=0, max_value=30), max_size=15),
)


@settings(max_examples=10, deadline=None, derandomize=True)
@given(keys=_keysets)
def test_merge_increment_set_algebra(spark, keys):
    """merge(existing, new): result keys = existing ∪ new; every key in
    new carries new's payload; keys only in existing keep theirs."""
    existing_keys, new_keys = keys
    existing = spark.createDataFrame(
        [("T", k, "old") for k in existing_keys] or [("T", -1, "old")],
        "ticker string, date int, src string",
    )
    new = spark.createDataFrame(
        [("T", k, "new") for k in new_keys] or [("T", -2, "new")],
        "ticker string, date int, src string",
    )
    merged = {
        (r.date, r.src)
        for r in merge_increment(existing, new).collect()
    }
    e = existing_keys or {-1}
    n = new_keys or {-2}
    expected = {(k, "new") for k in n} | {(k, "old") for k in e - n}
    assert merged == expected


def test_sessionize_invariants(spark, sf_smoke):
    """f8 session semantics, checked structurally (not just vs the
    oracle): sessions partition the events exactly; within a session
    every inter-event gap is <= 30 min; consecutive sessions of the
    same user are separated by > 30 min."""
    from pyspark.sql import functions as F

    from stock_market_etl_spark.catalog.windows import f8_sessionize
    from stock_market_etl_spark.io import load_table

    ev = load_table(spark, sf_smoke, "events")
    sess = f8_sessionize(spark, sf_smoke)
    # partition: session event counts sum to the table size
    assert (
        sess.agg(F.sum("n_events")).first()[0] == ev.count()
    )
    # bounds are consistent
    assert sess.filter(F.col("sess_end") < F.col("sess_start")).count() == 0
    rows = sorted(
        sess.collect(), key=lambda r: (r["user_id"], r["sess_id"])
    )
    gap = 30 * 60
    for prev, nxt in zip(rows, rows[1:]):
        if prev["user_id"] != nxt["user_id"]:
            continue
        delta = (nxt["sess_start"] - prev["sess_end"]).total_seconds()
        assert delta > gap, (
            f"sessions {prev['sess_id']}/{nxt['sess_id']} of user "
            f"{prev['user_id']} separated by only {delta}s"
        )
    # within-session max gap <= 30 min: longest session duration per
    # event count bounds it loosely; check directly on raw events
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        ),
    ).filter(F.col("gap_us").isNotNull() & (F.col("gap_us") <= gap * 1_000_000))
    # every such small-gap adjacency must land in the SAME session:
    # count of small gaps == total events - total sessions
    n_small = gaps.count()
    n_sessions = sess.count()
    assert n_small == ev.count() - n_sessions


_block_words = st.sampled_from(["a", "b", "ab"])
_block_doc = st.lists(_block_words, min_size=0, max_size=25)
_block_corpus = st.lists(_block_doc, min_size=1, max_size=6)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(corpus=_block_corpus, pt=st.integers(min_value=1, max_value=7))
def test_paragraph_dedup_matches_reference(spark, corpus, pt):
    """paragraph_dedup against a direct Python re-implementation at
    arbitrary block sizes (the x49 oracle pins only para_tokens=20):
    non-overlapping pt-token blocks, global first occurrence by
    (doc_id, block idx), in-order reassembly from surviving blocks.
    The tiny vocabulary forces cross-document block collisions."""
    import re
    from collections import defaultdict

    from stock_market_etl_spark.operators.dedup import paragraph_dedup

    docs = [(f"d{i}", " ".join(toks)) for i, toks in enumerate(corpus)]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df, para_tokens=pt).collect()}
    assert len(out) == len(docs)

    per_doc: dict[str, tuple[list[str], int]] = {}
    blocks: list[tuple[str, int, str]] = []
    for doc_id, text in docs:
        toks = re.split(r"\s+", text.strip())  # mirrors text.tokens()
        starts = list(range(1, max(len(toks), 1) + 1, pt))
        per_doc[doc_id] = (toks, len(starts))
        for idx, s in enumerate(starts):
            blocks.append((doc_id, idx, " ".join(toks[s - 1 : s - 1 + pt])))
    winners: dict[str, tuple[str, int]] = {}
    for doc_id, idx, blk in blocks:
        if blk not in winners or (doc_id, idx) < winners[blk]:
            winners[blk] = (doc_id, idx)
    keep = defaultdict(list)
    for blk, (doc_id, idx) in winners.items():
        keep[doc_id].append(idx)
    for doc_id, (toks, n_total) in per_doc.items():
        ks = sorted(keep.get(doc_id, []))
        rebuilt = " ".join(w for i in ks for w in toks[i * pt : i * pt + pt])
        r = out[doc_id]
        assert r["kept_text"] == rebuilt, (doc_id, pt)
        assert r["n_kept"] == len(ks), (doc_id, pt)
        assert r["n_total"] == n_total, (doc_id, pt)


@settings(max_examples=10, deadline=None, derandomize=True)
@given(series=_prices)
def test_rsi_matches_pandas(spark, series):
    """f9's windowed-sum RSI must match an independent pandas
    computation (Wilder simple-average form) on arbitrary series,
    including the <14-diff null guard."""
    from pyspark.sql import Window

    rows = [(i, i, 0, float(p)) for i, p in enumerate(series)]
    df = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, value double"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = w.rowsBetween(-13, 0)
    diff = F.col("value") - F.lag("value").over(w)
    d = df.withColumn("diff", diff)
    gain = F.sum(F.when(F.col("diff") > 0, F.col("diff")).otherwise(0.0)).over(wr)
    loss = F.sum(F.when(F.col("diff") < 0, -F.col("diff")).otherwise(0.0)).over(wr)
    cnt = F.count("diff").over(wr)
    rsi = F.when((cnt == 14) & (gain + loss != 0), 100.0 * gain / (gain + loss))
    out = [
        r["rsi"]
        for r in d.select(rsi.alias("rsi")).orderBy("event_id").collect()
    ]
    s = pd.Series(series, dtype="float64")
    dd = s.diff()
    g = dd.clip(lower=0).rolling(14, min_periods=14).sum()
    l = (-dd.clip(upper=0)).rolling(14, min_periods=14).sum()
    for i in range(len(series)):
        if pd.isna(g.iloc[i]) or (g.iloc[i] + l.iloc[i]) == 0:
            assert out[i] is None, i
        else:
            want = 100.0 * g.iloc[i] / (g.iloc[i] + l.iloc[i])
            assert math.isclose(out[i], want, rel_tol=1e-9, abs_tol=1e-9), i


_gopher_words = st.sampled_from(
    ["the", "a", "cat", "runs", "#tag", "...", "12", "x#", "longishword"]
)
_gopher_doc = st.lists(_gopher_words, min_size=1, max_size=30)


@settings(max_examples=10, deadline=None, derandomize=True)
@given(doc=_gopher_doc)
def test_gopher_metrics_match_reference(spark, doc):
    """x51's four rule metrics against a direct Python re-implementation
    on arbitrary token mixes (the oracle pins only the fixture corpus):
    mean word length, '#'/'...' symbol ratio, alphabetic-word fraction,
    stopword hits — and the composed keep decision."""
    from stock_market_etl_spark.operators.text import (
        STOPWORDS,
        gopher_keep,
        gopher_metrics,
    )

    text = " ".join(doc)
    df = spark.createDataFrame([(text,)], "text string")
    m = gopher_metrics(F.col("text"))
    row = df.select(
        m["mean_word_len"].alias("mwl"),
        m["symbol_word_ratio"].alias("swr"),
        m["alpha_word_frac"].alias("awf"),
        m["n_stopword_hits"].alias("stops"),
        gopher_keep(m).alias("keep"),
    ).collect()[0]

    n = len(doc)
    mwl = round(sum(len(w) for w in doc) / n, 6)
    n_hash = text.count("#")
    n_ell = (len(text) - len(text.replace("...", ""))) / 3.0
    swr = round((n_hash + n_ell) / n, 6)
    awf = round(sum(1 for w in doc if any(c.isalpha() and c.islower() for c in w)) / n, 6)
    stops = sum(1 for w in doc if w in STOPWORDS)
    keep = (3.0 <= mwl <= 10.0) and swr <= 0.1 and awf >= 0.8 and stops >= 2

    assert math.isclose(row["mwl"], mwl, rel_tol=0, abs_tol=5e-7), (row["mwl"], mwl)
    assert math.isclose(row["swr"], swr, rel_tol=0, abs_tol=5e-7), (row["swr"], swr)
    assert math.isclose(row["awf"], awf, rel_tol=0, abs_tol=5e-7), (row["awf"], awf)
    assert row["stops"] == stops
    assert row["keep"] == keep, (row, mwl, swr, awf, stops)


_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7),  # src
        st.integers(min_value=0, max_value=8),  # dst 8 = dangling-only
        st.integers(min_value=1, max_value=5),  # weight
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(edges=_edges, iters=st.integers(min_value=1, max_value=4))
def test_pagerank_matches_reference(spark, edges, iters):
    """pagerank against a direct Python power iteration on random
    weighted digraphs (the x53 oracle pins one graph + 3 iterations).
    src draws from 0-7 while dst reaches 8, so node 8 — whenever it
    appears — is DANGLING (no out-edges) and exercises the
    dangling-mass redistribution branch; total mass must stay exactly
    1 every round by construction."""
    from collections import defaultdict

    from stock_market_etl_spark.operators.graph import pagerank

    d = 0.85
    df = spark.createDataFrame(edges, "src int, dst int, w int")
    got = {
        r["v"]: r["pagerank"]
        for r in pagerank(df, iterations=iters, damping=d, weight_col="w")
        .collect()
    }

    nodes = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges})
    n = len(nodes)
    outw: dict[int, float] = defaultdict(float)
    adj: dict[tuple[int, int], float] = defaultdict(float)
    for s, t, w in edges:
        outw[s] += w
        adj[(s, t)] += w
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dm = sum(r[v] for v in nodes if v not in outw)
        contrib: dict[int, float] = defaultdict(float)
        for (s, t), w in adj.items():
            contrib[t] += r[s] * w / outw[s]
        r = {
            v: (1.0 - d) / n + d * (contrib.get(v, 0.0) + dm / n)
            for v in nodes
        }

    assert set(got) == set(nodes)
    for v in nodes:
        assert math.isclose(got[v], r[v], rel_tol=1e-9, abs_tol=1e-12), v
    assert math.isclose(sum(got.values()), 1.0, rel_tol=1e-9)


# --- snapshot-lifecycle model check (b18-b22, r09) -----------------
# A random program of lake operations against a Python reference
# model: after EVERY commit the latest snapshot must equal the model,
# every historical version must re-read exactly as it was when
# committed (time travel across later merges/deletes/compactions),
# and vacuum(keep=1) must preserve the latest content while making
# truncated history a loud error.

_lifecycle_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("append"),
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=9),
                    st.integers(min_value=0, max_value=99),
                ),
                min_size=1,
                max_size=4,
            ),
        ),
        st.tuples(
            st.just("upsert"),
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=9),
                    st.integers(min_value=100, max_value=199),
                ),
                min_size=1,
                max_size=3,
                unique_by=lambda kv: kv[0],
            ),
        ),
        st.tuples(
            st.just("delete"), st.integers(min_value=0, max_value=9)
        ),
        st.tuples(st.just("compact"), st.just(0)),
    ),
    min_size=2,
    max_size=5,
)


@settings(max_examples=6, deadline=None, derandomize=True)
@given(ops=_lifecycle_ops)
def test_snapshot_lifecycle_matches_model(spark, ops, tmp_path_factory):
    """Model-based check of the whole snapshot family: any interleaving
    of append / CoW upsert / CoW delete / compaction must keep (a) the
    latest snapshot equal to a trivial Python reference model, (b)
    every PRIOR version byte-stable as of its commit, and (c) vacuum
    retention semantics (latest survives byte-identically, truncated
    history errors loudly)."""
    from collections import Counter

    import pytest as _pytest

    from stock_market_etl_spark.io import (
        commit_snapshot,
        compact_snapshot,
        delete_where_snapshot,
        read_snapshot,
        upsert_snapshot,
        vacuum_snapshots,
    )

    table = str(tmp_path_factory.mktemp("lifecycle") / "table")

    def df_of(rows):
        return spark.createDataFrame(rows, "k long, v long")

    def snap(v):
        return Counter(
            (r["k"], r["v"]) for r in read_snapshot(spark, table, v).collect()
        )

    model: Counter = Counter()
    history: dict[int, Counter] = {}
    # the table must exist before upsert/delete/compact can run
    first = [(0, 0)]
    commit_snapshot(spark, table, df_of(first))
    model.update(first)
    history[1] = model.copy()

    for op, arg in ops:
        if op == "append":
            v = commit_snapshot(spark, table, df_of(arg))
            model.update(arg)
        elif op == "upsert":
            v = upsert_snapshot(spark, table, df_of(arg), keys=("k",))
            keys = {k for k, _ in arg}
            model = Counter(
                {kv: n for kv, n in model.items() if kv[0] not in keys}
            )
            model.update(arg)
        elif op == "delete":
            v = delete_where_snapshot(spark, table, F.col("k") == arg)
            model = Counter(
                {kv: n for kv, n in model.items() if kv[0] != arg}
            )
        else:  # compact: content-preserving
            v = compact_snapshot(spark, table, num_files=1)
        history[v] = model.copy()
        assert snap(v) == model, (op, arg)

    # time travel: every version still reads as of its commit
    for v, want in history.items():
        assert snap(v) == want, f"version {v} drifted"

    # vacuum: latest content survives, truncated history errors
    latest = max(history)
    vacuum_snapshots(table, keep_versions=1, min_file_age_seconds=0)
    assert snap(latest) == history[latest]
    if latest > 1:
        with _pytest.raises(FileNotFoundError):
            read_snapshot(spark, table, 1)


_vals = st.integers(min_value=-50, max_value=50)
_files = st.lists(  # each inner list = one file's column values
    st.lists(_vals, min_size=0, max_size=8), min_size=1, max_size=6
)
_ops = st.sampled_from(["==", "<", "<=", ">", ">=", "between"])


@settings(max_examples=200, deadline=None, derandomize=True)
@given(
    files=_files,
    conds=st.lists(st.tuples(_ops, _vals, _vals), min_size=1, max_size=3),
)
def test_manifest_prune_never_drops_a_matching_file(files, conds):
    """SOUNDNESS of the b23 manifest band check (pure function, no
    Spark): for ANY file contents and ANY conjunctive predicate, a
    file containing at least one row that satisfies every condition
    must survive _file_may_match when its stats are the true min/max
    of its rows. (Completeness is not required — keeping a
    non-matching file is legal; dropping a matching one is data
    loss.) Empty files carry the __empty marker and may always be
    pruned."""
    from stock_market_etl_spark.io import _file_may_match

    predicate = []
    for op, a, b in conds:
        if op == "between":
            predicate.append(("c", op, (min(a, b), max(a, b))))
        else:
            predicate.append(("c", op, a))

    def row_matches(v):
        for _, op, val in predicate:
            if op == "==" and not v == val:
                return False
            if op == "<" and not v < val:
                return False
            if op == "<=" and not v <= val:
                return False
            if op == ">" and not v > val:
                return False
            if op == ">=" and not v >= val:
                return False
            if op == "between" and not (val[0] <= v <= val[1]):
                return False
        return True

    for rows in files:
        if not rows:
            stats = {"__empty": True}
            assert _file_may_match(stats, predicate) is False
            continue
        stats = {"c": {"t": "int", "min": min(rows), "max": max(rows)}}
        if any(row_matches(v) for v in rows):
            assert _file_may_match(stats, predicate) is True, (
                rows,
                predicate,
            )


_tok = st.text(alphabet="abcxyz", min_size=1, max_size=3)
_doc = st.lists(_tok, min_size=0, max_size=20)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(docs=st.lists(_doc, min_size=1, max_size=5), k=st.sampled_from([2, 3]))
def test_cut_spans_matches_python_reference(spark, docs, k):
    """x72 differential: exact_substring_spans + cut_spans on random
    token corpora must equal an independent Python reference (set-of-
    window flagging + positional cut) — including overlap merging,
    multi-span docs, fully-covered docs, and sub-k docs passing
    through whitespace-normalized."""
    from collections import defaultdict

    from stock_market_etl_spark.operators.dedup import (
        cut_spans,
        exact_substring_spans,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    spans = exact_substring_spans(
        sdf, k=k, min_docs=2, text_col="text", id_col="doc_id"
    )
    got = {
        r["doc_id"]: r["clean_text"]
        for r in cut_spans(sdf, spans).collect()
    }

    # independent reference: flag every k-window whose content occurs
    # in >= 2 distinct docs, mark covered positions, cut, rejoin.
    # NOTE the engines tokenize "" as [''] (split-of-empty contract).
    toks_by_doc = {
        i: (" ".join(t).split(" ") if t else [""]) for i, t in enumerate(docs)
    }
    owners = defaultdict(set)
    for i, toks in toks_by_doc.items():
        for p in range(len(toks) - k + 1):
            owners[tuple(toks[p : p + k])].add(i)
    want = {}
    for i, toks in toks_by_doc.items():
        covered = set()
        for p in range(len(toks) - k + 1):
            if len(owners[tuple(toks[p : p + k])]) >= 2:
                covered.update(range(p, p + k))
        want[i] = " ".join(
            t for j, t in enumerate(toks) if j not in covered
        )
    assert got == want, (got, want)


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    docs=st.lists(_doc, min_size=2, max_size=6),
    k=st.sampled_from([2, 3]),
    split=st.integers(min_value=2, max_value=3),
)
def test_decontamination_matches_python_reference(spark, docs, k, split):
    """x84 differential on random corpora: contaminated_spans +
    cut_spans over an arbitrary eval/train partition must equal an
    independent Python reference — flag every train k-window whose
    content occurs in ANY eval doc (presence-in-reference, train-side
    duplication irrelevant), mark covered positions, cut, rejoin.
    Exercises overlap merging, multi-span docs, fully-covered docs,
    sub-k passthrough, and the case a window is duplicated across
    train docs but absent from eval (must NOT cut)."""
    from stock_market_etl_spark.operators.dedup import (
        contaminated_spans,
        cut_spans,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    ref = sdf.filter(F.col("doc_id") % split == 0)
    train = sdf.filter(F.col("doc_id") % split != 0)
    spans = contaminated_spans(ref, train, k=k)
    got = {
        r["doc_id"]: r["clean_text"]
        for r in cut_spans(train, spans).collect()
    }

    toks_by_doc = {
        i: (" ".join(t).split(" ") if t else [""])
        for i, t in enumerate(docs)
    }
    eval_windows = set()
    for i, toks in toks_by_doc.items():
        if i % split == 0:
            for p in range(len(toks) - k + 1):
                eval_windows.add(tuple(toks[p : p + k]))
    want = {}
    for i, toks in toks_by_doc.items():
        if i % split == 0:
            continue
        covered = set()
        for p in range(len(toks) - k + 1):
            if tuple(toks[p : p + k]) in eval_windows:
                covered.update(range(p, p + k))
        want[i] = " ".join(
            t for j, t in enumerate(toks) if j not in covered
        )
    assert got == want, (got, want)


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    docs=st.lists(_doc, min_size=2, max_size=6),
    k=st.sampled_from([2, 3]),
    split=st.integers(min_value=2, max_value=3),
)
def test_incremental_substring_spans_union_identity(spark, docs, k, split):
    """x74 differential on random corpora: the incremental form over
    any batch/corpus partition of a random doc set must equal the
    batch form over the union restricted to batch docs — the identity
    the operator's oracle encodes, here exercised across arbitrary
    window structure instead of the fixture's."""
    from stock_market_etl_spark.operators.dedup import (
        exact_substring_spans,
        exact_substring_spans_incremental,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    batch = sdf.filter(F.col("doc_id") % split == 0)
    corpus = sdf.filter(F.col("doc_id") % split != 0)

    def spans(df):
        return sorted(
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in df.collect()
        )

    inc = spans(
        exact_substring_spans_incremental(corpus, batch, k=k, min_docs=2)
    )
    full = spans(
        exact_substring_spans(sdf, k=k, min_docs=2).filter(
            F.col("doc_id") % split == 0
        )
    )
    assert inc == full


_psi_rows = st.lists(
    st.tuples(
        st.sampled_from(["s0", "s1"]),
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False, width=32),
        st.booleans(),
        st.booleans(),
    ),
    min_size=4,
    max_size=60,
).filter(
    # every group present in a release must have ≥1 row on each side
    # it claims, else totals are 0 (catalog rule guarantees this)
    lambda rows: all(
        any(r[0] == g and r[2] for r in rows)
        and any(r[0] == g and r[3] for r in rows)
        for g in {r[0] for r in rows}
    )
)


_vec = st.lists(
    st.integers(min_value=-2, max_value=2), min_size=3, max_size=3
).filter(lambda v: any(v))
_bitext_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=30), _vec),
    min_size=2,
    max_size=10,
    unique_by=lambda t: t[0],
).filter(
    lambda rows: any(i % 2 == 0 for i, _ in rows)
    and any(i % 2 == 1 for i, _ in rows)
)


@settings(max_examples=10, deadline=None, derandomize=True)
@given(rows=_bitext_rows, k=st.sampled_from([1, 2, 4]))
def test_bitext_margin_matches_reference(spark, rows, k):
    """x82 differential: bitext_margin_pairs on arbitrary small
    integer-grid vector sets must equal an independent plain-Python
    implementation of the Artetxe & Schwenk recipe — 6dp-rounded
    fold cosine, avg-top-k backgrounds per side (cos desc, opposite
    id asc), margin = cos / mean(bg_a, bg_b) rounded 6dp, best
    target per source by (margin desc, id_b asc), threshold kept.
    Exercises |B| < k (short background lists), exact cosine ties
    (integer grid), and sources whose best margin misses the
    threshold."""
    import math

    from stock_market_etl_spark.operators.similarity import (
        bitext_margin_pairs,
    )

    threshold = 1.0
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["id_a"]: (r["id_b"], r["cosine_sim"], r["margin"])
        for r in bitext_margin_pairs(
            df, F.col("vec_id") % 2 == 0, k=k, threshold=threshold
        ).collect()
    }

    a_side = [(i, v) for i, v in rows if i % 2 == 0]
    b_side = [(i, v) for i, v in rows if i % 2 == 1]

    def cos(u, v):
        num = 0.0
        for x, y in zip(u, v):  # sequential fold, the Spark order
            num += float(x) * float(y)
        nu = math.sqrt(sum(float(x) * float(x) for x in u))
        nv = math.sqrt(sum(float(y) * float(y) for y in v))
        return round(num / (nu * nv), 6)

    pairs = {
        (ia, ib): cos(va, vb)
        for ia, va in a_side
        for ib, vb in b_side
    }

    def bg_a(ia):
        ranked = sorted(
            ((pairs[(ia, ib)], ib) for ib, _ in b_side),
            key=lambda t: (-t[0], t[1]),
        )
        top = [c for c, _ in ranked[:k]]
        return sum(top) / len(top)

    def bg_b(ib):
        ranked = sorted(
            ((pairs[(ia, ib)], ia) for ia, _ in a_side),
            key=lambda t: (-t[0], t[1]),
        )
        top = [c for c, _ in ranked[:k]]
        return sum(top) / len(top)

    want = {}
    for ia, _ in a_side:
        scored = []
        for ib, _ in b_side:
            denom = (bg_a(ia) + bg_b(ib)) / 2
            if denom == 0:
                # Spark (non-ANSI) yields NULL for x/0: the candidate
                # sorts last (DESC NULLS LAST) and can never clear the
                # threshold — equivalent to dropping it
                continue
            scored.append((round(pairs[(ia, ib)] / denom, 6), ib))
        if not scored:
            continue
        scored.sort(key=lambda t: (-t[0], t[1]))
        margin, ib = scored[0]
        if margin >= threshold:
            want[ia] = (ib, pairs[(ia, ib)], margin)

    assert set(got) == set(want), (got, want)
    for ia in want:
        assert got[ia][0] == want[ia][0], (ia, got[ia], want[ia])
        assert abs(got[ia][1] - want[ia][1]) <= 1e-6
        assert abs(got[ia][2] - want[ia][2]) <= 1e-6


@settings(max_examples=10, deadline=None, derandomize=True)
@given(rows=_psi_rows)
def test_psi_drift_matches_reference(spark, rows):
    """psi_drift against a plain-Python PSI: identical per-group
    values (6dp) on arbitrary score/membership data, and PSI ≥ 0
    always (each (p−q)·ln(p/q) term is non-negative)."""
    import math

    from stock_market_etl_spark.operators.importance import psi_drift

    bins, eps = 10, 1e-4
    df = spark.createDataFrame(
        [(g, round(q, 6), int(o), int(n)) for g, q, o, n in rows],
        "source string, q double, in_old int, in_new int",
    )
    got = {
        r["source"]: r["psi"]
        for r in psi_drift(
            df, "q", "source", "in_old", "in_new", bins=bins, eps=eps
        ).collect()
    }

    def ref(g):
        hist = {}
        for s, q, o, n in rows:
            if s != g:
                continue
            b = min(bins - 1, int(math.floor(round(q, 6) * bins)))
            old, new = hist.get(b, (0, 0))
            hist[b] = (old + int(o), new + int(n))
        ot = sum(o for o, _ in hist.values())
        nt = sum(n for _, n in hist.values())
        psi = 0.0
        for o, n in hist.values():
            p = max(o / ot, eps)
            qq = max(n / nt, eps)
            psi += (p - qq) * math.log(p / qq)
        return round(psi, 6)

    for g in got:
        assert abs(got[g] - ref(g)) <= 1e-6, (g, got[g], ref(g))
        assert got[g] >= -1e-9  # PSI is non-negative by construction


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.sampled_from(
                ["alpha beta pad", "alpha pad pad", "beta beta", "pad pad"]
            ),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    k=st.integers(min_value=1, max_value=4),
)
def test_hard_negatives_invariants(spark, docs, k):
    """Structural invariants on arbitrary corpora: ranks are a dense
    1..min(k, |scored∖positives|) prefix per query, no positive ever
    appears, every emitted doc matched ≥1 query term, and scores are
    non-increasing with rank."""
    from stock_market_etl_spark.operators.text import bm25_hard_negatives

    df = spark.createDataFrame(docs, "doc_id long, text string")
    pos_ids = [d for d, _ in docs][: len(docs) // 2]
    positives = spark.createDataFrame(
        [("q1", d) for d in pos_ids], "query_id string, doc_id long"
    )
    out = bm25_hard_negatives(
        df, {"q1": ["alpha", "beta"]}, positives, k=k, n_chunks=4
    ).collect()
    matched = {
        d for d, t in docs if ("alpha" in t or "beta" in t)
    } - set(pos_ids)
    assert len(out) == min(k, len(matched))
    ranks = sorted(r["rank"] for r in out)
    assert ranks == list(range(1, len(out) + 1))
    by_rank = sorted(out, key=lambda r: r["rank"])
    assert all(r["doc_id"] not in pos_ids for r in out)
    assert all(r["doc_id"] in matched for r in out)
    scores = [r["bm25"] for r in by_rank]
    assert scores == sorted(scores, reverse=True)


def test_curation_lineage_partition_invariant(spark, sf_smoke):
    """Lineage is a PARTITION of the input: every doc gets exactly one
    verdict, kept_by is set iff verdict is exact_dup, every kept_by
    target is itself 'kept', and the kept set equals running the
    gates then exact_dedup."""
    from stock_market_etl_spark.io import load_table
    from stock_market_etl_spark.operators.dedup import (
        curation_lineage,
        exact_dedup,
    )

    docs = load_table(spark, sf_smoke, "documents")
    lin = curation_lineage(docs, min_chars=200).collect()
    assert len(lin) == docs.count()
    verdicts = {r["doc_id"]: r for r in lin}
    kept = {d for d, r in verdicts.items() if r["verdict"] == "kept"}
    for r in lin:
        assert (r["kept_by"] is not None) == (r["verdict"] == "exact_dup")
        if r["kept_by"] is not None:
            assert r["kept_by"] in kept
    gated = docs.filter(
        (F.col("n_chars") >= 200)
        & F.col("lang").isin(["en", "de", "fr"])
    )
    twin = {
        r["doc_id"] for r in exact_dedup(gated).select("doc_id").collect()
    }
    assert kept == twin


@settings(max_examples=60, deadline=None, derandomize=True)
@given(
    n=st.integers(min_value=1, max_value=10**12),
    fpp=st.floats(min_value=1e-4, max_value=0.5, allow_nan=False),
    tighter=st.floats(min_value=0.01, max_value=0.9, allow_nan=False),
)
def test_bloom_sizing_properties(n, fpp, tighter):
    """The public bloom-sizing seam (VERDICT r13 task 4 — a 100 TB
    user must not hand-compute bitmap sizes): on arbitrary window
    counts and target FPRs, (m, j) satisfy the engine floors (m a
    positive multiple of 64, 1 ≤ j ≤ 16), the theoretical FPR
    (1 − e^(−jn/m))^j lands within 1.10× the target (the j-rounding
    band — measured worst case 1.045× at the j* half-integer
    boundary), and FPR is MONOTONE in m: a tighter target never
    yields a smaller bitmap or a worse theoretical FPR. Pure driver
    math, no Spark session."""
    from stock_market_etl_spark.operators.dedup import bloom_sizing

    m, j = bloom_sizing(n, fpp)
    assert m % 64 == 0 and m >= 64
    assert 1 <= j <= 16

    def fpr(m_, j_):
        return (1.0 - math.exp(-j_ * n / m_)) ** j_

    # the floors only ever ADD bits, so the achieved theoretical FPR
    # beats the target up to the integer-j rounding band
    assert fpr(m, j) <= fpp * 1.10, (n, fpp, m, j)

    # monotonicity in m via the user-facing knob: tightening the
    # target grows (or keeps) the bitmap and never worsens FPR
    fpp_tight = fpp * tighter
    m2, j2 = bloom_sizing(n, fpp_tight)
    assert m2 >= m
    assert fpr(m2, j2) <= fpr(m, j) * 1.10 + 1e-15, (n, fpp, fpp_tight)


def test_bloom_sizing_refuses_degenerate_inputs():
    import pytest

    from stock_market_etl_spark.operators.dedup import bloom_sizing

    with pytest.raises(ValueError, match="n_windows"):
        bloom_sizing(0)
    with pytest.raises(ValueError, match="fpp"):
        bloom_sizing(100, 0.0)
    with pytest.raises(ValueError, match="fpp"):
        bloom_sizing(100, 1.0)


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    docs=st.lists(_doc, min_size=2, max_size=6),
    k=st.sampled_from([2, 3]),
    split=st.integers(min_value=2, max_value=3),
)
def test_bloom_decontamination_conservative_on_random_corpora(
    spark, docs, k, split
):
    """x88 differential on random corpora (the fuzz companion to the
    fixture evidence test): on an arbitrary eval/train partition, the
    bloom tier must be CONSERVATIVE relative to the exact form —
    every exact contamination span lies inside some bloom span for
    the same doc (zero false negatives, the shared-xxhash64-family
    guarantee), every bloom-kept token survives the exact cut too
    (bloom can only cut MORE), and sub-k / clean docs pass through
    both identically. Exercises the empty-eval, fully-covered, and
    overlap-merge edges hypothesis finds that fixtures don't."""
    from stock_market_etl_spark.operators.dedup import (
        bloom_contaminated_spans,
        build_window_bloom,
        contaminated_spans,
        cut_spans,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    ref = sdf.filter(F.col("doc_id") % split == 0)
    train = sdf.filter(F.col("doc_id") % split != 0)

    exact_spans_df = contaminated_spans(ref, train, k=k)
    exact_spans = [
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in exact_spans_df.collect()
    ]
    bloom = build_window_bloom(ref, k=k, fpp=0.01)
    bloom_spans_df = bloom_contaminated_spans(bloom, train, k=k)
    bloom_spans = [
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in bloom_spans_df.collect()
    ]

    by_doc: dict = {}
    for d, s, e in bloom_spans:
        by_doc.setdefault(d, []).append((s, e))
    for d, s, e in exact_spans:
        assert any(
            s2 <= s and e <= e2 for s2, e2 in by_doc.get(d, [])
        ), (d, s, e, bloom_spans)

    exact_clean = {
        r["doc_id"]: r["clean_text"]
        for r in cut_spans(train, exact_spans_df).collect()
    }
    bloom_clean = {
        r["doc_id"]: r["clean_text"]
        for r in cut_spans(train, bloom_spans_df).collect()
    }
    assert set(bloom_clean) == set(exact_clean)
    for d, text in bloom_clean.items():
        kept = set(text.split(" ")) - {""}
        kept_exact = set(exact_clean[d].split(" ")) - {""}
        # conservativeness at token-IDENTITY grain: bloom keeps a
        # subset of what exact keeps (it can only cut more)
        assert kept <= kept_exact, (d, kept, kept_exact)


@settings(max_examples=4, deadline=None, derandomize=True)
@given(
    docs=st.lists(_doc, min_size=3, max_size=6),
    k=st.sampled_from([2, 3]),
)
def test_bloom_release_lifecycle_on_random_corpora(spark, docs, k):
    """b29 differential on random corpora (the b27-fuzz precedent
    lifted to the bloom tier): on an arbitrary three-way partition
    (eval release 1, eval release 2, train), the FULL artifact chain
    — build r1 → write → read → merge r2 at the read-back geometry →
    publish write-once → read — must (1) round-trip tuple-identical
    at both artifact hops, (2) produce a bitmap BIT-IDENTICAL to one
    built over r1 ∪ r2 at the same (m, j, k) (OR-idempotence at
    fixed geometry, the merged ≡ rebuilt invariant THROUGH the
    artifacts rather than in memory), and (3) probe conservatively
    vs the exact form over the union reference — every exact span
    inside a bloom span, so the chain can never LOSE a window.
    Exercises the empty-release, empty-floor-base, and degenerate
    edges hypothesis finds that the fixture lifecycle test doesn't."""
    import shutil
    import tempfile
    import warnings as _warnings

    from stock_market_etl_spark.operators.dedup import (
        _bloom_bitmap_at,
        _window_hash_stream,
        bloom_contaminated_spans,
        build_window_bloom,
        contaminated_spans,
        merge_window_bloom,
        publish_bloom_index,
        read_bloom_index,
        release_bloom_broadcasts,
        write_bloom_index,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    r1 = sdf.filter(F.col("doc_id") % 3 == 0)
    r2 = sdf.filter(F.col("doc_id") % 3 == 1)
    train = sdf.filter(F.col("doc_id") % 3 == 2)
    union = r1.unionByName(r2)

    work = tempfile.mkdtemp(prefix="bloom_lifecycle_fuzz_")
    try:
        b1 = build_window_bloom(r1, k=k)
        write_bloom_index(b1, spark, f"{work}/r1")
        loaded = read_bloom_index(spark, f"{work}/r1")
        assert loaded == b1
        with _warnings.catch_warnings():
            # over-growth past the r1 sizing is expected fuzz input
            _warnings.simplefilter("ignore", RuntimeWarning)
            merged = merge_window_bloom(
                loaded, r2, built_k=loaded[4], k=k
            )
        publish_bloom_index(merged, spark, f"{work}/r2")
        pub = read_bloom_index(spark, f"{work}/r2")
        assert pub == merged

        if b1[3] > 0 and merged[3] > 0:
            # geometry was fixed by r1's build: merged ≡ rebuilt
            union_hashes = (
                _window_hash_stream(union, k, "text", "doc_id")
                .select("__h")
                .distinct()
            )
            rebuilt = _bloom_bitmap_at(
                union_hashes, merged[1], merged[2]
            )
            assert merged[0] == rebuilt

        exact = contaminated_spans(union, train, k=k).collect()
        bloom_spans = bloom_contaminated_spans(
            pub, train, k=pub[4]
        ).collect()
        by_doc: dict = {}
        for r in bloom_spans:
            by_doc.setdefault(r["doc_id"], []).append(
                (r["span_start"], r["span_end"])
            )
        for r in exact:
            assert any(
                s <= r["span_start"] and r["span_end"] <= e
                for s, e in by_doc.get(r["doc_id"], [])
            ), (r, bloom_spans)
        release_bloom_broadcasts()
    finally:
        shutil.rmtree(work, ignore_errors=True)


_winnow_text = st.text(
    alphabet=sorted("ab1 .!"), min_size=0, max_size=40
)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    texts=st.lists(_winnow_text, min_size=1, max_size=5),
    k=st.sampled_from([2, 3]),
    w=st.sampled_from([2, 4]),
)
def test_winnow_fingerprints_match_reference(spark, texts, k, w):
    """x64 differential on random strings: the Arrow-batched winnowing
    selection must equal an independent plain-Python reference —
    normalize, md5-int64 every char k-gram (SIGNED view, the engine's
    ordering), slide the w-window, select the rightmost minimum,
    dedup (pos, hash) per doc. The tiny 'ab1' alphabet forces the
    gram collisions and tie-breaks fixtures rarely hit; short docs
    exercise the sub-k absence and clipped-window (< w grams) edges."""
    import hashlib
    import re

    from stock_market_etl_spark.operators.dedup import (
        winnow_fingerprints,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got: dict = {}
    for r in winnow_fingerprints(sdf, k=k, w=w).collect():
        got.setdefault(r["doc_id"], set()).add(
            (r["fp_pos"], r["fp_hash"])
        )

    def signed(x: int) -> int:
        return x - (1 << 64) if x >= (1 << 63) else x

    want: dict = {}
    for i, text in enumerate(texts):
        t = re.sub(r"[^a-z0-9]", "", text.lower())
        if len(t) < k:
            continue
        data = t.encode("utf-8")
        n = len(data) - k + 1
        h = [
            signed(
                int.from_bytes(
                    hashlib.md5(data[p : p + k]).digest()[:8], "little"
                )
            )
            for p in range(n)
        ]
        ww = min(w, n)
        sel = set()
        for s in range(n - ww + 1):
            window = h[s : s + ww]
            m = min(window)
            idx = max(j for j, v in enumerate(window) if v == m)
            sel.add((s + idx + 1, window[idx]))
        want[i] = sel
    assert got == want, (got, want)


_word_doc = st.lists(
    st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12
).map(" ".join)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(docs=st.lists(_word_doc, min_size=2, max_size=5))
def test_containment_pairs_match_reference(spark, docs):
    """x77 differential on random tiny-alphabet corpora: containment
    pairs must equal an independent Python reference — distinct word
    2-gram sets, candidates share ≥ 1 NON-banned gram (banned = gram
    held by > max docs, here 2, so 5 docs exercise the ban), but
    containment computed over the FULL sets, |A∩B| / min, id_a <
    id_b, threshold filter. The 3-word alphabet forces heavy gram
    sharing, bans, and the short-doc sub-n edge."""
    import re
    from collections import Counter

    from stock_market_etl_spark.operators.dedup import (
        containment_pairs,
    )

    rows = [(i, t) for i, t in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(
            sdf, ngram=2, threshold=0.25, max_ids_per_gram=2
        ).collect()
    }

    gram_sets = {}
    for i, t in rows:
        toks = [x for x in re.split(r"\s+", t.strip().lower()) if x]
        if len(toks) < 2:
            continue
        gram_sets[i] = {
            " ".join(toks[p : p + 2]) for p in range(len(toks) - 1)
        }
    cnt = Counter(g for gs in gram_sets.values() for g in gs)
    banned = {g for g, c in cnt.items() if c > 2}
    want = {}
    ids = sorted(gram_sets)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            shared = gram_sets[a] & gram_sets[b]
            if not (shared - banned):
                continue
            c = len(shared) / min(len(gram_sets[a]), len(gram_sets[b]))
            if round(c, 6) >= 0.25:
                want[(a, b)] = c
    assert set(got) == set(want), (got, want)
    for pair, v in got.items():
        assert abs(v - want[pair]) < 1e-6, (pair, v, want[pair])


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_connected_components_match_union_find(spark, edges):
    """x31/x35's clustering core on random graphs: the iterative
    Hash-Min label propagation must equal an independent union-find
    reference — every node labeled with the MINIMUM id reachable from
    it. Random tuples produce self-loops, parallel/duplicate edges,
    long chains (propagation rounds ~ diameter), and cycles — the
    shapes the fixture's near-dup pairs rarely cover. The driver
    oracle (recursive CTE) proves the fixture distribution; this
    proves arbitrary graphs."""
    from stock_market_etl_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["id"]: r["cluster_rep"]
        for r in connected_components(pairs).collect()
    }

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps: dict = {}
    for n in parent:
        comps.setdefault(find(n), set()).add(n)
    want = {
        n: min(members)
        for members in comps.values()
        for n in members
    }
    assert got == want, (got, want)


_scd2_batches = st.lists(
    st.dictionaries(
        keys=st.sampled_from([0, 1, 2, None]),
        values=st.sampled_from([None, "x", "y"]),
        max_size=4,
    ),
    min_size=1,
    max_size=4,
)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(batches=_scd2_batches)
def test_scd2_apply_multi_batch_matches_model(spark, batches):
    """l5 across BATCH SEQUENCES (the single-batch semantics tests
    can't see history accumulation): applying random update batches
    to an initially-empty dimension must equal an independent Python
    state model — a changed attribute closes the open row at the
    update's effective date and opens a new version, an unchanged
    update is a no-op (NULL-safe: None == None is unchanged), a new
    key opens its first version, and a NULL key never matches (each
    NULL-keyed update appends its own open version; NULL-keyed open
    rows pass through untouched). Between batches the engine output
    is materialized and re-fed, so each step exercises the operator
    on its own prior output."""
    from stock_market_etl_spark.pipeline import scd2_apply

    dim_schema = "key int, attr string, valid_from int, valid_to int"
    rows: list = []
    for i, batch in enumerate(batches):
        cur = spark.createDataFrame(rows, dim_schema)
        upd = spark.createDataFrame(
            [(k, v, i) for k, v in batch.items()],
            "key int, attr string, eff_date int",
        )
        rows = [
            (r["key"], r["attr"], r["valid_from"], r["valid_to"])
            for r in scd2_apply(
                cur, upd, key="key", attrs=("attr",)
            ).collect()
        ]

    state: list = []  # [key, attr, valid_from, valid_to]
    for i, batch in enumerate(batches):
        for k, v in batch.items():
            if k is None:
                state.append([None, v, i, None])
                continue
            open_v = [
                s for s in state if s[0] == k and s[3] is None
            ]
            if not open_v:
                state.append([k, v, i, None])
            elif open_v[0][1] != v:
                open_v[0][3] = i
                state.append([k, v, i, None])
    want = sorted(
        (tuple(s) for s in state),
        key=lambda t: tuple((x is None, x) for x in t),
    )
    got = sorted(
        rows, key=lambda t: tuple((x is None, x) for x in t)
    )
    assert got == [tuple(w) for w in want], (got, want)


_emb_vec = st.lists(
    st.integers(min_value=-3, max_value=3), min_size=4, max_size=4
).filter(lambda v: any(v))

#: (vector, role) — role 0/1 = train, 2 = eval release 1, 3 = eval
#: release 2; collision-prone small ints force exact cosine ties so
#: the rounded-value + min-id tie-break is actually exercised.
_emb_corpus = st.lists(
    st.tuples(_emb_vec, st.integers(min_value=0, max_value=3)),
    min_size=3,
    max_size=10,
).filter(
    lambda rows: any(r >= 2 for _, r in rows)
    and any(r < 2 for _, r in rows)
)


@settings(max_examples=6, deadline=None, derandomize=True)
@given(rows=_emb_corpus)
def test_embedding_release_lifecycle_matches_reference(spark, rows):
    """b27's lifecycle on RANDOM corpora and ARBITRARY release
    partitions (the driver oracle proves the fixture distribution;
    this proves the general contract): write release 1 → merge
    release 2 → publish → probe must (a) equal a from-scratch build
    of the union release bit-for-bit (merged ≡ rebuilt), and
    (b) match an independent numpy reference for every training
    verdict — cosine rounded exactly as Spark rounds (BigDecimal of
    the double's binary expansion, HALF_UP — reproduced via
    decimal.Decimal(float)), nearest eval chosen by (rounded cos
    desc, id asc), flag at ≥ 0.4. Duplicate vectors force exact
    rounded ties, exercising the id tie-break on both sides. Empty
    release 1 or 2 (but never both) exercises the empty-merge edge.
    """
    import math as _math
    import shutil
    import tempfile
    from decimal import ROUND_HALF_UP, Decimal

    from stock_market_etl_spark.operators import similarity as sim

    data = [
        (i, [float(x) for x in vec], role)
        for i, (vec, role) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "vec_id bigint, embedding array<double>, role int"
    )
    train = df.filter(F.col("role") < 2).drop("role")
    r1 = df.filter(F.col("role") == 2).drop("role")
    r2 = df.filter(F.col("role") == 3).drop("role")

    work = tempfile.mkdtemp(prefix="emb_fuzz_")
    try:
        sim.write_embedding_index(r1, f"{work}/r1", dim=4)
        idx1, built_dim = sim.read_embedding_index(spark, f"{work}/r1")
        merged = sim.merge_embedding_index(idx1, r2, built_dim)
        sim.publish_embedding_index(merged, f"{work}/r2", built_dim)
        idx2, dim2 = sim.read_embedding_index(spark, f"{work}/r2")
        got = sorted(
            map(
                tuple,
                sim.embedding_contamination_incremental(
                    idx2, train, threshold=0.4, built_dim=dim2
                ).collect(),
            )
        )
        # merged ≡ rebuilt: a from-scratch artifact of r1 ∪ r2
        sim.write_embedding_index(
            r1.unionByName(r2), f"{work}/scratch", dim=4
        )
        idx_s, dim_s = sim.read_embedding_index(spark, f"{work}/scratch")
        rebuilt = sorted(
            map(
                tuple,
                sim.embedding_contamination_incremental(
                    idx_s, train, threshold=0.4, built_dim=dim_s
                ).collect(),
            )
        )
        assert got == rebuilt
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # independent reference: numpy-free exact math + Spark's rounding
    def spark_round6(x: float) -> float:
        return float(
            Decimal(x).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    evals = {i: v for i, v, role in data if role >= 2}
    want = []
    for i, v, role in data:
        if role >= 2:
            continue
        nv = _math.sqrt(sum(x * x for x in v))
        best = None
        for j in sorted(evals):
            e = evals[j]
            ne = _math.sqrt(sum(x * x for x in e))
            cos = spark_round6(
                sum(a * b for a, b in zip(v, e)) / (nv * ne)
            )
            if best is None or cos > best[1]:
                best = (j, cos)
        want.append((i, best[0], best[1], best[1] >= 0.4))
    assert got == sorted(want), (got, sorted(want))


@settings(max_examples=5, deadline=None, derandomize=True)
@given(rows=_emb_corpus)
def test_embedding_ann_artifact_matches_inline(spark, rows):
    """b28's probe on RANDOM corpora and ARBITRARY release
    partitions: the artifact chain (vector index → bucket index →
    merge both → publish both → probe) must be BIT-IDENTICAL to the
    inline `embedding_contamination_ann` over the union at the same
    parameters — bucket assignment is a pure per-row function of the
    seeded plane family, so materializing it can never change a
    verdict. Covers empty release 1 or 2 (merge of an empty bucket
    table) and duplicate vectors (identical buckets in every
    table)."""
    import shutil
    import tempfile

    from stock_market_etl_spark.operators import similarity as sim

    data = [
        (i, [float(x) for x in vec], role)
        for i, (vec, role) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "vec_id bigint, embedding array<double>, role int"
    )
    train = df.filter(F.col("role") < 2).drop("role")
    r1 = df.filter(F.col("role") == 2).drop("role")
    r2 = df.filter(F.col("role") == 3).drop("role")

    work = tempfile.mkdtemp(prefix="emb_ann_fuzz_")
    try:
        sim.write_embedding_index(r1, f"{work}/v1", dim=4)
        idx1, built_dim = sim.read_embedding_index(spark, f"{work}/v1")
        sim.write_lsh_buckets(
            idx1, f"{work}/b1", built_dim, n_planes=3, n_tables=5,
            seed=11,
        )
        bk1, params = sim.read_lsh_buckets(spark, f"{work}/b1")
        merged_v = sim.merge_embedding_index(idx1, r2, built_dim)
        sim.publish_embedding_index(merged_v, f"{work}/v2", built_dim)
        idx2, dim2 = sim.read_embedding_index(spark, f"{work}/v2")
        r2_vecs = sim._checked_unit_vectors(r2, dim2)
        merged_b = sim.merge_lsh_buckets(bk1, r2_vecs, params)
        sim.publish_lsh_buckets(merged_b, f"{work}/b2", params)
        bk2, params2 = sim.read_lsh_buckets(spark, f"{work}/b2")
        got = sorted(
            map(
                tuple,
                sim.embedding_contamination_ann_incremental(
                    idx2, bk2, train, params2, threshold=0.4
                ).collect(),
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    want = sorted(
        map(
            tuple,
            sim.embedding_contamination_ann(
                df,
                F.col("role") >= 2,
                dim=4,
                threshold=0.4,
                n_planes=3,
                n_tables=5,
                seed=11,
            ).collect(),
        )
    )
    assert got == want, (got, want)
