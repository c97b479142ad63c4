"""Registration-order guard: the driver's CORRECTNESS file records
exactly the first 50 queries in registration order (proven rounds 1→2:
inserting e13b mid-module evicted e14 from the file). These tests make
that window an explicit contract — an insertion that would silently
evict a hard pass fails CI instead.
"""

from __future__ import annotations

from stock_market_etl_spark.catalog import (
    DRIVER_WINDOW,
    all_oracles,
    all_queries,
)


def test_window_is_exactly_the_first_fifty():
    names = list(all_queries())
    assert len(DRIVER_WINDOW) == 50
    assert names[:50] == list(DRIVER_WINDOW)


def test_window_queries_all_have_oracles():
    """Every window slot must carry a hash-checkable oracle — a
    rows-only query in the window wastes a hard-signal slot."""
    oracles = all_oracles()
    missing = [n for n in DRIVER_WINDOW if n not in oracles]
    assert not missing, f"window queries without oracle: {missing}"


def test_no_duplicate_registrations():
    names = list(all_queries())
    assert len(names) == len(set(names))


def test_changed_queries_are_in_window():
    """Changed-since-proof rule (VERDICT r04 task 3): a driver-proven
    query whose implementing code (transitive package closure, see
    tools/proof_ledger.impl_hash) drifts from its ledgered hash MUST be
    in the current DRIVER_WINDOW for re-proof — the hole that let
    commit 5014681 rewrite q_latest_snapshot/x28 after their proofs
    without re-admission. Broad foundational changes go through
    `python -m tools.proof_ledger accept-local` instead, which
    downgrades the evidence grade visibly."""
    from tools.proof_ledger import impl_hash, load_ledger

    queries, oracles = all_queries(), all_oracles()
    stale = [
        name
        for name, entry in load_ledger().items()
        if name in queries
        and name not in DRIVER_WINDOW
        and impl_hash(name, queries, oracles) != entry["impl_hash"]
    ]
    assert not stale, (
        f"changed since last driver proof but not in window: {stale} — "
        "add to DRIVER_WINDOW for re-proof, or accept-local with "
        "rationale after a green local oracle run"
    )


def test_impl_hash_tracks_body_imports():
    """The drift tracer's r11 blind-spot fixes, pinned: callables
    bound by body-level `from pkg.mod import fn`, body-level
    submodule aliases (`from pkg.operators import dedup`), and plain
    `import pkg.mod as alias` all land in the hash closure — and
    resolution is deterministic regardless of what was imported
    first."""
    from tools.proof_ledger import _package_callables

    def q_from_import(spark, sf_dir):
        from stock_market_etl_spark.io import read_snapshot

        return read_snapshot(spark, sf_dir, 1)

    def q_submodule_alias(spark, sf_dir):
        from stock_market_etl_spark.operators import dedup

        return dedup.exact_dedup(None)

    def q_plain_import(spark, sf_dir):
        import stock_market_etl_spark.io as sio

        return sio.read_snapshot(spark, sf_dir, 1)

    def names(fn):
        return {
            f"{c.__module__}.{c.__qualname__}"
            for c in _package_callables(fn)
        }

    io_target = "stock_market_etl_spark.io.read_snapshot"
    assert io_target in names(q_from_import)
    assert io_target in names(q_plain_import)
    assert (
        "stock_market_etl_spark.operators.dedup.exact_dedup"
        in names(q_submodule_alias)
    )
    # deterministic across calls (the x50 suite-order flake class)
    assert names(q_from_import) == names(q_from_import)


def test_rehash_separates_tracer_drift_from_code_drift(
    tmp_path, monkeypatch, capsys
):
    """ADVICE r11 + review r12: a blind rehash can't tell
    tracer-upgrade drift from real code drift run in the same round —
    and measuring with the OLD tracer would inherit the blind spots
    the upgrade fixes. cmd_rehash must compare the CURRENT tracer's
    hash of the baseline-ref code against its hash of the current
    code: equal → pure measurement change, refresh; different → real
    code drift, untouched and listed. --baseline is mandatory."""
    import json

    import pytest

    import tools.proof_ledger as pl

    lp = tmp_path / "ledger.json"
    lp.write_text(
        json.dumps(
            {
                "q_tracer_only": {
                    "proven": "r05",
                    "impl_hash": "oldhash_t",
                    "evidence": "driver",
                },
                "q_code_drift": {
                    "proven": "r05",
                    "impl_hash": "oldhash_c",
                    "evidence": "driver",
                },
            }
        )
    )
    monkeypatch.setattr(pl, "LEDGER_PATH", lp)
    monkeypatch.setattr(
        pl,
        "_catalog",
        lambda: ({"q_tracer_only": None, "q_code_drift": None}, {}),
    )
    # new tracer on CURRENT code: both entries read differently now.
    # Counting wrapper: impl_hash traces the query's full callee
    # closure, so rehash must hash each entry ONCE, not once in the
    # filter and again in the value (ADVICE r12).
    hash_calls: dict[str, int] = {}

    def counting_hash(n, q, o):
        hash_calls[n] = hash_calls.get(n, 0) + 1
        return f"new_{n}"

    monkeypatch.setattr(pl, "impl_hash", counting_hash)
    # new tracer on BASELINE code: q_tracer_only's code is unchanged
    # (baseline hash == current hash → the ledger delta is the
    # measurement); q_code_drift's code moved since the proofs
    monkeypatch.setattr(
        pl,
        "_package_hashes_at_ref",
        lambda ref, names: {
            "q_tracer_only": "new_q_tracer_only",
            "q_code_drift": "baseline_other",
        },
    )
    pl.cmd_rehash(["tracer upgrade"], baseline="r11-stamp")
    assert hash_calls == {"q_tracer_only": 1, "q_code_drift": 1}
    out = json.loads(lp.read_text())
    assert out["q_tracer_only"]["impl_hash"] == "new_q_tracer_only"
    assert out["q_tracer_only"]["rehash_note"] == "tracer upgrade"
    assert out["q_tracer_only"]["proven"] == "r05"  # grade untouched
    assert out["q_code_drift"]["impl_hash"] == "oldhash_c"  # untouched
    assert "rehash_note" not in out["q_code_drift"]
    assert "q_code_drift" in capsys.readouterr().out
    # baseline is REQUIRED — no silent default that misclassifies
    # when the session's changes are already committed
    with pytest.raises(SystemExit, match="baseline"):
        pl.cmd_rehash(["another reason"])


def _tree_ref_and_query(queries: dict, ledger: dict) -> tuple[str, str]:
    """A git ref holding the working tree's tracked files, and a
    ledgered query whose traced closure lies wholly in files with no
    change against that ref (c6_single_eq_filter when it qualifies).
    ``git stash create`` commits the staged and unstaged edits without
    touching the tree or the stash list, and prints nothing on a clean
    tree (the ref is then HEAD). Measuring at HEAD instead would need a
    query untouched since HEAD, and an uncommitted edit to a module
    every query loads through (``io.py``) leaves none."""
    import inspect
    import subprocess
    from pathlib import Path

    from tools.proof_ledger import _package_callables

    repo = Path(__file__).resolve().parent.parent

    def git(*args: str) -> str:
        return subprocess.run(
            ["git", *args], cwd=repo, check=True, capture_output=True, text=True
        ).stdout

    def git_files(*args: str) -> set[Path]:
        return {(repo / line).resolve() for line in git(*args).splitlines() if line}

    # the snapshot commit needs a committer identity whatever the host's config
    ref = (
        git(
            "-c", "user.name=proof-ledger-test",
            "-c", "user.email=proof-ledger-test@localhost",
            "stash", "create",
        ).strip()
        or "HEAD"
    )
    dirty = git_files("diff", "--name-only", ref) | git_files(
        "ls-files", "--others", "--exclude-standard"
    )

    def closure_files(fn) -> set[Path]:
        seen: set[str] = set()
        files: set[Path] = set()
        stack = [fn]
        while stack:
            f = stack.pop()
            key = f"{f.__module__}.{f.__qualname__}"
            if key in seen:
                continue
            seen.add(key)
            try:
                files.add(Path(inspect.getsourcefile(f)).resolve())
            except TypeError:
                continue
            stack.extend(_package_callables(f))
        return files

    order = ["c6_single_eq_filter"] + [n for n in ledger if n in queries]
    for name in order:
        if name in ledger and not closure_files(queries[name]) & dirty:
            return ref, name
    raise AssertionError("every ledgered query reaches an untracked file")


def test_package_hashes_at_ref_measures_baseline_code():
    """The baseline measurement really runs the current tracer over
    a git ref's package code: for a ledgered query whose
    implementation the ref holds unchanged, the measurement at the
    ref equals the live one."""
    from tools.proof_ledger import (
        _package_hashes_at_ref,
        impl_hash,
        load_ledger,
    )
    from stock_market_etl_spark.catalog import all_oracles, all_queries

    q, o = all_queries(), all_oracles()
    ref, name = _tree_ref_and_query(q, load_ledger())
    live = impl_hash(name, q, o)
    at_ref = _package_hashes_at_ref(ref, [name])
    assert at_ref == {name: live}
