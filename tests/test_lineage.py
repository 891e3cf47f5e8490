"""Checkpoint/resume: a job killed mid-run must resume from lineage and
produce the identical triple set (BASELINE.md resume-correctness row)."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from fhir_owl_spark import fixtures as fx
from fhir_owl_spark.plans.build_graph import build_graph, triples_with_key
from fhir_owl_spark.plans.lineage import (
    build_graph_resumable,
    completed_chunks,
    read_lineage,
    read_triples,
    write_committed_chunk,
)


@pytest.fixture(scope="module")
def inputs(spark):
    ont, cfg = fx.pizza_fixture()
    turns = fx.make_transcripts(ont, cfg, n_conv=40, seed=42)
    concepts, edges, synonyms = fx.ontology_dfs(spark, ont)
    tdf = fx.transcripts_df(spark, turns).localCheckpoint()
    return concepts, edges, synonyms, tdf, cfg


def triple_set(df):
    return {(r["subj"], r["pred"], r["obj"]) for r in df.collect()}


def test_kill_and_resume_identical(spark, inputs, tmp_path):
    concepts, edges, synonyms, tdf, cfg = inputs
    out = str(tmp_path / "graph")

    with pytest.raises(RuntimeError, match="simulated failure"):
        build_graph_resumable(
            spark, concepts, edges, synonyms, tdf, out, cfg,
            n_chunks=4, fail_after_chunks=2,
        )
    done = completed_chunks(spark, out)
    assert -1 in done and len(done) == 3  # ontology + 2 transcript chunks

    run2 = build_graph_resumable(
        spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=4
    )
    lineage = read_lineage(spark, out)
    rows = lineage.collect()
    assert {r["partition_id"] for r in rows} == {-1, 0, 1, 2, 3}
    assert len(rows) == 5  # each chunk committed exactly once
    # resumed chunks carry the resuming run_id, original ones the first
    assert any(r["run_id"] == run2 for r in rows)
    assert any(r["run_id"] != run2 for r in rows)
    # metrics recorded
    assert all(r["output_triples"] >= 0 and r["finished_ts"] is not None for r in rows)

    resumed = triple_set(read_triples(spark, out))
    single_shot = triple_set(
        build_graph(spark, concepts, edges, synonyms, tdf, cfg)
    )
    assert resumed == single_shot


def test_rerun_is_noop(spark, inputs, tmp_path):
    concepts, edges, synonyms, tdf, cfg = inputs
    out = str(tmp_path / "graph2")
    build_graph_resumable(spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=3)
    before = triple_set(read_triples(spark, out))
    n_lineage = read_lineage(spark, out).count()
    build_graph_resumable(spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=3)
    assert read_lineage(spark, out).count() == n_lineage  # nothing re-ran
    assert triple_set(read_triples(spark, out)) == before


def test_resume_rejects_chunk_count_change(spark, inputs, tmp_path):
    concepts, edges, synonyms, tdf, cfg = inputs
    out = str(tmp_path / "graph3")
    with pytest.raises(RuntimeError, match="simulated failure"):
        build_graph_resumable(
            spark, concepts, edges, synonyms, tdf, out, cfg,
            n_chunks=4, fail_after_chunks=1,
        )
    with pytest.raises(ValueError, match="n_chunks"):
        build_graph_resumable(
            spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=2
        )
    # correct count resumes fine
    build_graph_resumable(spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=4)
    assert len(completed_chunks(spark, out)) == 5


def test_read_skips_uncommitted_chunk(spark, inputs, tmp_path):
    """A chunk directory whose data write finished but whose lineage commit
    row was never appended (crash in the gap) must be INVISIBLE to readers
    — the lineage commit record gates the read path."""
    concepts, edges, synonyms, tdf, cfg = inputs
    out = str(tmp_path / "graph")
    build_graph_resumable(
        spark, concepts, edges, synonyms, tdf, out, cfg, n_chunks=4
    )
    before = triple_set(read_triples(spark, out))

    # forge an orphan chunk dir exactly as write_chunk lays it out
    # (pred-partitioned under chunk=N): data present, no lineage row
    orphan = read_triples(spark, out).limit(5).withColumn(
        "subj", F.concat(F.lit("ORPHAN_"), F.col("subj"))
    )
    orphan.write.mode("overwrite").partitionBy("pred").parquet(
        f"{out}/triples/chunk=99"
    )

    after = triple_set(read_triples(spark, out))
    assert after == before
    assert not any(s.startswith("ORPHAN_") for s, _, _ in after)


def _epoch_us(naive_utc: dt.datetime) -> int:
    return (naive_utc - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def test_commit_row_round_trip(spark, inputs, tmp_path):
    """The lineage row of a commit reads back with exactly the values it
    was given, and its timestamps are the call's naive-UTC wall clock.
    Timestamps are compared as epoch microseconds, so the check does not
    depend on the host's zone: a commit that read naive datetimes in the
    process's local zone would be off by the zone offset."""
    concepts = inputs[0]
    out = str(tmp_path / "graph")
    chunk = triples_with_key(
        concepts.select(
            F.col("iri").alias("subj"),
            F.lit("has-display").alias("pred"),
            F.col("label").alias("obj"),
            F.lit("string").alias("obj_type"),
            F.lit(None).cast("string").alias("conv_id"),
        )
    )
    before = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    n_out = write_committed_chunk(spark, out, 3, chunk, 17, "run-abc")
    after = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)

    rows = read_lineage(spark, out).select(
        "run_id", "partition_id", "input_rows", "output_triples", "checkpoint_id",
        F.unix_micros("started_ts").alias("started_us"),
        F.unix_micros("finished_ts").alias("finished_us"),
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert n_out == chunk.count() > 0
    assert tuple(r)[:5] == ("run-abc", 3, 17, n_out, "run-abc:3")
    assert _epoch_us(before) <= r["started_us"] <= r["finished_us"] <= _epoch_us(after)
