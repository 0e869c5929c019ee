"""Self-tests of the benchmark at tiny sizes.

    python3 -m pytest perfbench/tests -q

The input and check tests are plain Python. ``test_counts_repeat``
runs the benchmark's traced run twice per workload (each a Spark
session, a few minutes in all) and needs the program importable.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import gen, reference

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TINY = gen.CrmlsShape(listings=200, agents=20, offices=5)


def _crmls_files(seed: int, root: str) -> dict[str, bytes]:
    g = gen.CrmlsGenerator(seed, TINY)
    gen.write_round(root, g.bootstrap(), "r0")
    for i in range(1, 4):
        gen.write_round(root, g.changes(60), f"r{i}")
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_crmls_inputs_repeat_per_seed(tmp_path):
    a = _crmls_files(7, str(tmp_path / "a"))
    b = _crmls_files(7, str(tmp_path / "b"))
    c = _crmls_files(8, str(tmp_path / "c"))
    assert a == b
    assert a != c
    assert len(a) == len(gen.TOPICS) * 4


def test_corpus_repeats_per_seed(tmp_path):
    paths = {}
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        paths[name] = str(tmp_path / name / "docs.json")
        gen.write_corpus(paths[name], gen.near_dup_corpus(seed, 300))
    data = {k: open(p, "rb").read() for k, p in paths.items()}
    assert data["a"] == data["b"]
    assert data["a"] != data["c"]


def test_crmls_generator_plants_ties_and_late_versions():
    g = gen.CrmlsGenerator(1, TINY)
    ref = reference.CrmlsReference()
    ref.add(g.bootstrap())
    seen: dict = {}
    late = ties = 0
    for _ in range(10):
        for line in g.changes(60)["listings"]:
            env = json.loads(line)
            prev = seen.get(env["uc_pk"], ref.latest["listings"][env["uc_pk"]][0])
            late += env["uc_created_ts"] < prev
            ties += env["uc_created_ts"] == prev
            seen[env["uc_pk"]] = max(prev, env["uc_created_ts"])
    assert late > 0 and ties > 0


def test_corrupted_crmls_result_is_caught():
    g = gen.CrmlsGenerator(2, TINY)
    ref, replay = reference.CrmlsReference(), reference.ChangelogReplay()
    boot = g.bootstrap()
    ref.add(boot)
    want = ref.result()
    replay.apply((row, False) for row in want)
    assert reference.compare_rows("replay", replay.snapshot(), want) == []

    # one joined version wrong
    bad = list(want)
    bad[5] = bad[5][:3] + ("0000000000",) + bad[5][4:]
    assert reference.compare_rows("result", reference.sorted_rows(bad), want)
    # one row lost
    assert reference.compare_rows("result", want[1:], want)
    # a retract of a row that was never inserted
    with pytest.raises(ValueError):
        replay.apply([(bad[5], True)])


def test_corrupted_near_dup_output_is_caught(tmp_path):
    from perfbench.neardup import JACCARD_THRESHOLD, NearDupCuration

    wl = NearDupCuration(5, str(tmp_path), "tiny")
    kept = wl.kept_ref
    ids = sorted(kept)
    pairs = [
        {"id_a": a, "id_b": b, "jaccard": reference.jaccard(kept[a], kept[b])}
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if reference.jaccard(kept[a], kept[b]) >= JACCARD_THRESHOLD
    ]
    comp = reference.components(kept, [(p["id_a"], p["id_b"]) for p in pairs])
    canon = reference.canonical(kept, comp)
    wl._out = (canon, pairs)
    assert wl.check() == []
    assert wl.recall >= wl.size.recall_floor

    # a canonical doc swapped for another member of its cluster
    multi = next(i for i, row in enumerate(canon) if row[2] > 1)
    c, doc, size = canon[multi]
    other = next(i for i, cc in comp.items() if cc == c and i != doc)
    wl._out = (canon[:multi] + [(c, other, size)] + canon[multi + 1:], pairs)
    assert wl.check()

    # a pair that merges two planted bases
    base_of = {d.id: d.base for d in wl.docs}
    a = ids[0]
    b = next(i for i in ids if base_of[i] != base_of[a] and i > a)
    wl._out = (canon, pairs + [{"id_a": a, "id_b": b, "jaccard": reference.jaccard(kept[a], kept[b])}])
    assert wl.check()

    # pairs lost: recall falls below the floor
    wl._out = (reference.canonical(kept, reference.components(kept, [])), [])
    assert any("recall" in p for p in wl.check())


COUNT_METRICS = {
    "crmls_trickle": ["spark.stages", "spark.tasks", "store.rows_rewritten", "store.write_amp",
                      "versioned.commits", "join.recompute_ratio"],
    "near_dup_curation": ["spark.stages", "spark.tasks", "similarity.pairs", "similarity.recall",
                          "graph.cc_stages"],
}


def _traced(workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", "1", "--size", "tiny"],
        capture_output=True, text=True, timeout=600, cwd=ROOT, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(COUNT_METRICS))
def test_counts_repeat(workload):
    first, second = _traced(workload, 11), _traced(workload, 11)
    for res in (first, second):
        assert res["correct"] and res["failed"] == 0
    got = {k: (first["metrics"][k]["value"], second["metrics"][k]["value"])
           for k in COUNT_METRICS[workload]}
    assert all(a == b for a, b in got.values()), got
    assert all(a > 0 for a, _ in got.values()), got
