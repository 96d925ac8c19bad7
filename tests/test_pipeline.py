"""Checkpoint/resume semantics (north_rule: killed job resumes from
the last completed stage)."""

import json
import os

from de_spark.pipeline import build
from de_spark.sources.nt import triples_from_nt_text
from tests.fixtures import BANANA_NT


def test_build_writes_manifests_and_resumes(spark, tmp_path):
    out = str(tmp_path / "kg")
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    kg, stages = build(raw, out)
    assert [s.name for s in stages] == [
        "extract", "term_uids", "dict", "triples", "stats", "pred_stats",
    ]
    assert all(not s.skipped for s in stages)

    # manifests carry lineage: rows, checksum, wall; the per-graph row
    # lineage is materialized in the stats table itself
    m = json.load(open(os.path.join(out, "triples", "_manifest.json")))
    assert m["rows"] == 12
    assert isinstance(m["checksum"], int) and m["wall_ms"] >= 0
    per_graph = {r["graph"]: r["triples"] for r in kg.stats.collect()}
    assert per_graph == {"file:///banana.hdt": 12}

    # resume: all stages skip, results identical
    kg2, stages2 = build(raw, out, resume=True)
    assert all(s.skipped for s in stages2)
    assert [s.rows for s in stages2] == [s.rows for s in stages]
    assert kg2.triples.count() == 12

    # partial resume: kill the last two stages → only they re-run
    os.remove(os.path.join(out, "triples", "_manifest.json"))
    os.remove(os.path.join(out, "stats", "_manifest.json"))
    kg3, stages3 = build(raw, out, resume=True)
    skipped = {s.name: s.skipped for s in stages3}
    assert skipped == {
        "extract": True,
        "term_uids": True,
        "dict": True,
        "triples": False,
        "stats": False,
        "pred_stats": True,
    }
    assert kg3.triples.count() == 12


def test_checksum_is_partitioning_invariant(spark, tmp_path):
    """Stage content depends only on the triple SET: repartitioned input
    and input holding every triple twice build the same stages (bar
    triples_raw, which keeps the input as given)."""
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    inputs = {
        "a": raw.repartition(1),
        "b": raw.repartition(7),
        "dup": raw.unionByName(raw),
    }
    for name, df in inputs.items():
        build(df, str(tmp_path / name))

    def manifest(name, stage):
        m = json.load(open(os.path.join(tmp_path, name, stage, "_manifest.json")))
        return m["rows"], m["checksum"]

    for stage in ("triples_raw", "term_uids", "dict", "triples", "stats", "pred_stats"):
        assert manifest("a", stage) == manifest("b", stage), stage
        if stage != "triples_raw":
            assert manifest("a", stage) == manifest("dup", stage), stage
    assert manifest("dup", "triples_raw")[0] == 2 * manifest("a", "triples_raw")[0]


def test_build_runs_every_job_in_the_callers_group(spark, tmp_path, in_job_group):
    """The overlapped stage writes run on threads that inherit the
    caller's job group, so cancelling the group stops the whole build."""
    tracker = spark.sparkContext.statusTracker()
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    before = set(tracker.getJobIdsForGroup(None))
    _, in_group = in_job_group("pipeline-build", lambda: build(raw, str(tmp_path / "kg")))
    assert in_group > 0
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
