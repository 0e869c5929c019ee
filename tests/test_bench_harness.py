"""bench.py artifact-durability contract (r12 verdict ask #1).

BENCH_r12.json was rc=124 with ``parsed: null`` — the driver's wall
window expired mid-suite and the round lost its entire perf artifact,
because results were only emitted at process end. The harness now
persists per-query rows incrementally (BENCH_DETAIL.jsonl) and a
SIGTERM/SIGALRM handler emits the summary-so-far as the final stdout
JSON line. This test kills a live bench subprocess mid-suite and
asserts the artifact still exists and parses — the verdict's literal
done-criterion ("a kill -TERM mid-suite local run still yields a
parseable summary + per-query detail for everything completed").

Runs at sf0.001 on a 2-query subset so the whole exercise stays under
~2 minutes; no timing asserts anywhere (wall-clock asserts flake on a
contended host — BASELINE r11-s2 row).
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.timeout(300)
def test_sigterm_midsuite_yields_parseable_artifact(tmp_path):
    jsonl = os.path.join(_REPO, "BENCH_DETAIL.jsonl")
    if os.path.exists(jsonl):
        os.remove(jsonl)
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_REPS="2",
        SPARK_GRAFT_BENCH_ONLY="dedup_exact,p4_wordcount,text_langid",
        # fresh cache dir: don't touch the host's persistent one
        SPARK_GRAFT_FIXTURE_CACHE=str(tmp_path / "cache"),
        SPARK_GRAFT_BENCH_MAX_LOAD="1e9",  # never stall on load here
        # durability contract under test, not timing comparability:
        # the full interpreted-path warm is ~2.5 min alone and flaked
        # this test's 240 s first-row budget under suite load
        SPARK_GRAFT_BENCH_WARM="0",
    )
    os.makedirs(str(tmp_path / "cache"), exist_ok=True)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(_REPO, "bench.py")],
        cwd=_REPO, env=env,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    try:
        # wait for the FIRST query row to land in the incremental
        # sidecar, then kill — the classic mid-suite timeout shape
        deadline = time.monotonic() + 240
        rows = 0
        while time.monotonic() < deadline:
            if os.path.exists(jsonl):
                with open(jsonl) as fh:
                    rows = sum(1 for _ in fh)
                if rows >= 1:
                    break
            time.sleep(1)
        assert rows >= 1, "bench never completed a query within 240s"
        proc.send_signal(signal.SIGTERM)
        out, _ = proc.communicate(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.communicate()

    lines = [ln for ln in out.splitlines() if ln.strip()]
    assert lines, "no stdout emitted after SIGTERM"
    summary = json.loads(lines[-1])  # the driver parses the LAST line
    assert summary["metric"] == "total_query_wall_time"
    assert summary.get("terminated_by") == "sigterm"
    assert summary["n_queries"] >= 1
    # every completed query has a durable detail row with its runs
    with open(jsonl) as fh:
        detail_rows = [json.loads(ln) for ln in fh]
    assert len(detail_rows) >= 1
    assert all("runs" in r and "median" in r for r in detail_rows)
    # the consolidated detail doc was written by the signal path too
    with open(os.path.join(_REPO, "BENCH_DETAIL.json")) as fh:
        doc = json.load(fh)
    assert doc.get("terminated_by") == "sigterm"
    assert set(doc["per_query"]) == set(summary["queries"])


def _write_detail(root, name, **doc):
    with open(os.path.join(root, name), "w") as fh:
        json.dump(doc, fh)


def test_prior_medians_match_scale_factor_and_core_count(tmp_path):
    """The rerun bar and wall projections read per-query medians from
    the newest committed detail artifact, which must have been
    measured at the run's sf AND core count: a newer 32-core artifact
    must not seed a 4-core run's reference, and an unreadable or
    deadline-skipped one is passed over."""
    from bench import load_prior_medians

    root = str(tmp_path)
    _write_detail(root, "BENCH_DETAIL_r3.json", sf=0.1, ncpus=4,
                  per_query={"q1": {"median": 1.5}, "q2": {"median": None}})
    _write_detail(root, "BENCH_DETAIL_r10.json", sf=0.1, ncpus=32,
                  per_query={"q1": {"median": 0.2}})
    assert load_prior_medians(root, "0.1", 4) == (
        {"q1": 1.5}, os.path.join(root, "BENCH_DETAIL_r3.json"))
    assert load_prior_medians(root, "0.1", 32)[0] == {"q1": 0.2}
    assert load_prior_medians(root, "0.1", 8) == ({}, None)
    assert load_prior_medians(root, "0.01", 4) == ({}, None)

    _write_detail(root, "BENCH_DETAIL_r11.json", sf=0.1, ncpus=4,
                  n_deadline_skipped=3, per_query={"q1": {"median": 9.0}})
    with open(os.path.join(root, "BENCH_DETAIL_r12.json"), "w") as fh:
        fh.write("{truncated")
    assert load_prior_medians(root, "0.1", 4)[0] == {"q1": 1.5}
