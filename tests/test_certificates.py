"""Non-degeneracy sweep over every driver query (the r3
customers_without-orders lesson as a standing invariant): a certificate
that returns no rows, a FALSE ok, or all-zero positive evidence at any
checked SF is a vacuous pass and must fail loudly.

Default sweep SF is sf0.001 (fast, and historically where vacuity bites
first — the smallest corpus); set SPARKSKETCH_CERT_SFS to a
comma-separated list of sf dirs to widen (scripts/check_oracle.py applies
the same checker at whatever SF it is pointed at, so the sf0.01/sf0.1
gate runs cover the larger scales every round).
"""

import os

import pytest

from sparksketch.certify import degeneracy_problems

_SFS = os.environ.get(
    "SPARKSKETCH_CERT_SFS", "/root/testdata/sf0.001").split(",")


@pytest.mark.parametrize("sf", _SFS)
def test_every_query_is_non_degenerate(spark, sf):
    import __spark_entry__ as entry
    problems = []
    for name, fn in entry.queries().items():
        try:
            rows = [r.asDict() for r in fn(spark, sf).collect()]
        except Exception as e:  # noqa: BLE001 - collect into one report
            problems.append(f"{name}: raised {type(e).__name__}: {e}")
            continue
        problems += degeneracy_problems(name, rows)
    assert not problems, "\n".join(problems)


def test_degeneracy_checker_positive_controls():
    # the checker itself must fire on each degeneracy class
    assert degeneracy_problems("q", [])  # empty
    assert degeneracy_problems("q", [{"ok": False, "n_x": 3}])
    assert degeneracy_problems("q", [{"ok": True, "n_pairs": 0}])
    # suffixed certificate booleans (sound_ok/recall_ok/...) count too
    assert degeneracy_problems("q", [{"recall_ok": False, "n_x": 3}])
    assert degeneracy_problems("q", [{"descent_ok": True, "n_codes": 0}])
    # zero-by-design counters are exempt; healthy rows pass
    assert not degeneracy_problems(
        "q", [{"ok": True, "n_media": 5, "n_mismatch": 0,
               "false_negatives": 0}])
    # non-certificate results only need rows
    assert not degeneracy_problems("q", [{"a": 0}])


def test_gate_removes_only_dead_pid_dirs(tmp_path):
    """The BM25 gate's cleanup: sibling dirs of exited processes go, the
    dirs of live processes (the caller's own included) and unrelated
    names stay."""
    import subprocess
    import sys

    from __spark_entry__ import _remove_dead_pid_dirs

    done = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    dead = int(done.stdout)
    names = [f"gate_{os.getpid()}", f"gate_{os.getppid()}", f"gate_{dead}", "gate_x1",
             f"other_{dead}", f"gate_{10**30}"]
    for name in names:
        (tmp_path / name / "part").mkdir(parents=True)
    _remove_dead_pid_dirs(str(tmp_path), "gate_")
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(set(names) - {f"gate_{dead}"})


def test_compaction_gate_keeps_only_live_pid_dirs(spark, tmp_path, monkeypatch):
    """The compaction gate query sinks under the temp dir, and a later call
    removes the sinks of exited processes: only live-pid dirs stay."""
    import subprocess
    import sys
    import tempfile

    import __spark_entry__ as entry

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = _SFS[0]
    prefix = f"sparksketch_gate_compact_{os.path.basename(sf.rstrip('/'))}_"
    live = f"{prefix}{os.getpid()}"
    n_rows = entry._compact_roundtrip_docs(spark, sf).count()
    assert n_rows > 0 and sorted(p.name for p in tmp_path.iterdir()) == [live]
    done = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    (tmp_path / f"{prefix}{int(done.stdout)}" / "part").mkdir(parents=True)
    assert entry._compact_roundtrip_docs(spark, sf).count() == n_rows
    assert sorted(p.name for p in tmp_path.iterdir()) == [live]
