"""Checkpointed end-to-end build: the ``de create`` equivalent, and the
one build path of the store (``store.add_graph`` is this build into a
staging dir plus a publish).

Stages (each a checkpoint, per north_rule resumability):

  1. extract      — source rows → triples_raw strings
  2. term_uids    — global term→uid assignment   ┐ one shared index pass,
  3. dict         — four-section dictionary      ┘ written concurrently
  4. triples      — uid-encoded, distinct, SPO-sorted, graph-partitioned
  5. stats        — VOID header stats            ┐ derived from dict+enc,
  6. pred_stats   — per-graph predicate counts   ┘ written concurrently

Set semantics: the stored triples are the distinct input triples (HDT
holds a set).  Duplicates are dropped once, in uid space, inside the
SPO layout shuffle; VOID and the manifests count the written rows, so
they count distinct triples too.  Uids are unique and stable but not
dense: building on top of a store's uid table keeps every existing uid
and puts new ones above its max.

Each stage writes parquet plus a ``_manifest.json`` with row count,
wall-clock, schema and an order-insensitive content fingerprint
(XOR of per-row xxhash64 — cheap, distributed, deterministic).  A
killed job resumes by skipping stages whose manifest already exists
(``build(..., resume=True)``).  Per-graph lineage lives in the stats
table itself (one row per graph with its triple count) — the resume /
repair unit is the graph partition.

Driver-serial cost dominates at these sizes: every action pays
Catalyst planning + codegen on one core.  This build therefore (a)
computes dict sec_ids AND term uids from ONE zip_with_index pass, (b)
derives VOID + predicate stats from COLUMN-PRUNED scans of the
just-written dict/triples parquet (the scans touch only `graph` +
`p_id`; fully distributed, never O(#graphs) on the driver), and (c)
overlaps independent stage writes (uids ∥ dict ∥ triples — the encode
joins read the LIVE uid frame off the shared index cache, not the uids
parquet — and stats ∥ pred_stats) on driver threads so planning and
the per-stage straggler tail of one action hide under execution of the
others.  The triples stage does not persist the encode output: its
partition boundaries come from a raw-sample probe of the uid cache
(``plan_spo_partitions``), not from a pass over the encoded rows.

Iceberg note: the target deployment materializes these as partitioned
Iceberg tables (snapshot semantics = the reference's immutable HDT +
whole-graph add/drop, src/sparql.rs:126-221).  This container has no
Iceberg runtime, so the catalog layer is parquet + manifest files with
the same layout and the writes are plain ``write.parquet`` — swap
``write.parquet(path)`` for ``writeTo(table)`` on a real cluster.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from de_spark.dictionary import build_dict_and_uids, position_flags
from de_spark.encode import encode_triples, plan_spo_partitions, planned_sort_spo
from de_spark.graph import KnowledgeGraph
from de_spark.stats import void_stats_from_dict


def _lineage_exprs(df: DataFrame):
    """count + order-insensitive checksum as observe() metrics.

    Checksum = XOR of xxhash64 over all columns — cheap, JVM-side,
    deterministic regardless of row order/partitioning, and cannot
    overflow (sum would under ANSI mode).  Paired with the row count it
    detects any content change except exact duplicate-row multiplicity
    swaps.  Computed via the observation API DURING the write job —
    no second pass, no extra action (each extra action costs serial
    driver planning/codegen time that caps scaling efficiency)."""
    chk_expr = F.expr(
        "bit_xor(xxhash64(" + ", ".join(f"`{c}`" for c in df.columns) + "))"
    ).alias("chk")
    return [F.count(F.lit(1)).alias("n"), chk_expr]


@dataclass
class StageResult:
    name: str
    path: str
    rows: int
    checksum: int
    wall_ms: int
    skipped: bool


def _manifest_path(stage_dir: str) -> str:
    return os.path.join(stage_dir, "_manifest.json")


def _stage_done(stage_dir: str, resume: bool) -> bool:
    return resume and os.path.exists(_manifest_path(stage_dir))


def _write_stage(
    df: DataFrame,
    stage_dir: str,
    name: str,
    resume: bool,
    partition_by: list[str] | None = None,
) -> StageResult:
    if _stage_done(stage_dir, resume):
        with open(_manifest_path(stage_dir)) as f:
            m = json.load(f)
        return StageResult(name, stage_dir, m["rows"], m["checksum"], m["wall_ms"], True)

    from pyspark.sql import Observation

    t0 = time.monotonic()
    if callable(df):
        # deferred construction: runs on THIS stage's (possibly
        # overlapped) driver thread — the triples stage uses it so its
        # partition-boundary planning jobs (sample scan + uid-cache
        # probe + collect) overlap the uids/dict writes instead of
        # serializing ahead of them (r7: the eager variant lengthened
        # the 4-core critical path by the whole planning prefix)
        df = df()
    obs = Observation(f"lineage_{name}")
    out = df.observe(obs, *_lineage_exprs(df))
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage_dir)
    metrics = obs.get
    rows, checksum = int(metrics["n"]), int(metrics["chk"] or 0)
    wall_ms = int((time.monotonic() - t0) * 1000)

    with open(_manifest_path(stage_dir), "w") as f:
        json.dump(
            {
                "stage": name,
                "rows": rows,
                "checksum": checksum,
                "wall_ms": wall_ms,
                "schema": out.schema.simpleString(),
                # per-graph row lineage is materialized in the stats
                # stage (one row per graph) — not duplicated here
                "partitions": "see stats stage",
            },
            f,
            indent=1,
        )
    return StageResult(name, stage_dir, rows, checksum, wall_ms, False)


def _parallel_stages(jobs: list[tuple]) -> list[StageResult]:
    """Run independent _write_stage calls on driver threads.  Spark's
    scheduler interleaves their tasks; Catalyst planning of one action
    overlaps execution of the other (the py4j calls release the GIL).
    """
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futs = [pool.submit(_write_stage, *j) for j in jobs]
        return [f.result() for f in futs]


def build(
    triples_raw: DataFrame,
    out_dir: str,
    resume: bool = False,
) -> tuple[KnowledgeGraph, list[StageResult]]:
    """Materialize a KnowledgeGraph from string triples (``de create``)."""
    stages = build_stages(triples_raw, out_dir, resume)
    return KnowledgeGraph.load(triples_raw.sparkSession, out_dir), stages


def build_stages(
    triples_raw: DataFrame,
    out_dir: str,
    resume: bool = False,
    base_uids: DataFrame | None = None,
) -> list[StageResult]:
    """Write the six build stages of ``triples_raw`` under ``out_dir``.

    ``base_uids`` is an existing store's (term, uid) table: terms in it
    keep their uid, and the ``term_uids`` stage then holds only the new
    terms — exactly the rows a store append publishes."""
    spark = triples_raw.sparkSession
    results: list[StageResult] = []
    os.makedirs(out_dir, exist_ok=True)

    raw_dir = f"{out_dir}/triples_raw"
    results.append(_write_stage(triples_raw, raw_dir, "extract", resume))
    raw = spark.read.parquet(raw_dir)

    uids_dir = f"{out_dir}/term_uids"
    dict_dir = f"{out_dir}/dict"
    triples_dir = f"{out_dir}/triples"
    handles: list[DataFrame] = []
    new_uids = dict_df = triples_df = None
    if not all(_stage_done(d, resume) for d in (uids_dir, dict_dir, triples_dir)):
        max_uid = 0
        if base_uids is not None:
            max_uid = base_uids.agg(F.max("uid")).first()[0] or 0
        # one term-universe shuffle (position flags) feeds the single
        # shared index pass that yields BOTH dict sec_ids and term uids
        flags = position_flags(raw).persist()
        handles.append(flags)
        dict_df, uids_df = build_dict_and_uids(
            flags, handles=handles, flags_persisted=True, base_uids=base_uids, max_uid=max_uid
        )
        # the uid table is read four times downstream (its own write,
        # the dict join, the s- and o-encode joins): persist so the
        # groupBy(term) agg over the index cache runs once
        uids_df = uids_df.persist()
        handles.append(uids_df)
        new_uids = uids_df if base_uids is None else uids_df.where(F.col("uid") > max_uid)
        # planned range partition: boundaries come from a seeded
        # raw-sample broadcast-probed against the uid cache, never from
        # a pass over the encoded rows.  Deferred via a callable so the
        # planning jobs run on the triples stage's own thread,
        # overlapped with the uids/dict writes.
        p_vocab = flags.where(F.col("is_p") == 1).select("term").distinct()
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        n_raw = results[0].rows

        def triples_df(raw=raw, uids=uids_df, pv=p_vocab):
            bounds = plan_spo_partitions(raw, uids, n_raw, nparts)
            return planned_sort_spo(encode_triples(raw, uids, pv), bounds, nparts)

    # uids ∥ dict ∥ triples: the encode reads the LIVE uid frame
    # (identical content to the parquet being written — uid assignment
    # is a pure function of the sorted index), so all three writes run
    # concurrently over the one persisted index frame.  A stage whose
    # manifest exists on resume is skipped without evaluating its frame.
    results.extend(
        _parallel_stages(
            [
                (new_uids, uids_dir, "term_uids", resume),
                (dict_df, dict_dir, "dict", resume),
                (triples_df, triples_dir, "triples", resume, ["graph"]),
            ]
        )
    )

    # stats (VOID) ∥ pred_stats (BGP selectivity stats, SURVEY.md §4 P7)
    # — always derived from the WRITTEN dict + triples parquet.  The
    # triple/predicate counts scan only the `graph` partition value and
    # the dictionary-encoded `p_id` column, and the distinct counts are
    # sums over the dict table; the aggregation is distributed and never
    # moves per-graph rows through the driver.
    stats_dir = f"{out_dir}/stats"
    pred_dir = f"{out_dir}/pred_stats"
    enc = spark.read.parquet(triples_dir)
    stats_df = void_stats_from_dict(spark.read.parquet(dict_dir), enc)
    pred_df = enc.groupBy("graph", "p_id").agg(F.count("*").alias("n"))
    results.extend(
        _parallel_stages(
            [
                (stats_df, stats_dir, "stats", resume),
                (pred_df, pred_dir, "pred_stats", resume),
            ]
        )
    )
    for h in handles:
        h.unpersist()
    return results
