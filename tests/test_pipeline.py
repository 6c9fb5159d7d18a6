"""Full pipeline: truth recovery, checkpoint-resume, metrics/lineage
(SURVEY §5 items 3-4; resume ≙ cleanup_incomplete_file semantics)."""

from __future__ import annotations

import glob
import os

import pytest

from cpdd_spark.config import DedupConfig
from cpdd_spark.pipeline import DedupPipeline

CFG = DedupConfig()


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path / "work")


def _truth_cluster_sets(truth_pdf):
    by_cluster = {}
    for _, row in truth_pdf.iterrows():
        by_cluster.setdefault(row["cluster_id"], set()).add(row["conv_id"])
    return {frozenset(v) for v in by_cluster.values()}


def test_pipeline_recovers_truth_clusters(spark, turns_df, truth_pdf, workdir):
    pipe = DedupPipeline(spark, workdir, CFG)
    clusters = pipe.run(turns_df).collect()
    got_by_cluster = {}
    for r in clusters:
        got_by_cluster.setdefault(r["cluster_id"], set()).add(r["conv_id"])
    got = {frozenset(v) for v in got_by_cluster.values()}
    expected = _truth_cluster_sets(truth_pdf)
    # set-identical clustering (exact + near + substring all planted above
    # their tier thresholds; no cross-cluster merges expected at this size)
    assert got == expected


def test_pipeline_stats(spark, turns_df, truth_pdf, workdir):
    pipe = DedupPipeline(spark, workdir, CFG)
    pipe.run(turns_df)
    stats = {r["disposition"]: r["convs"] for r in pipe.stats().collect()}
    n_dups = len(truth_pdf[truth_pdf["kind"] != "unique"])
    assert stats["duplicate"] == n_dups
    assert stats["canonical"] == len(truth_pdf) - n_dups


def test_resume_skips_completed_stages(spark, turns_df, workdir):
    p1 = DedupPipeline(spark, workdir, CFG)
    c1 = {(r["conv_id"], r["cluster_id"]) for r in p1.run(turns_df).collect()}
    assert all(s == "computed" for _, s in p1.stage_log)

    # rerun: every stage must be resumed, clusters identical
    p2 = DedupPipeline(spark, workdir, CFG)
    c2 = {(r["conv_id"], r["cluster_id"]) for r in p2.run(turns_df).collect()}
    assert all(s == "resumed" for _, s in p2.stage_log), p2.stage_log
    assert c1 == c2


def test_resume_recomputes_killed_stage(spark, turns_df, workdir):
    """Simulate a crash mid-stage: drop one stage's commit marker; the rerun
    recomputes exactly that stage (+ downstream), reuses the rest."""
    p1 = DedupPipeline(spark, workdir, CFG)
    c1 = {(r["conv_id"], r["cluster_id"]) for r in p1.run(turns_df).collect()}

    # kill the signatures stage commit (partial write ≙ no _SUCCESS)
    os.remove(os.path.join(p1.io.path("signatures"), "_SUCCESS"))
    p2 = DedupPipeline(spark, workdir, CFG)
    c2 = {(r["conv_id"], r["cluster_id"]) for r in p2.run(turns_df).collect()}
    log = dict(p2.stage_log)
    assert log["documents"] == "resumed"
    assert log["exact_clusters"] == "resumed"
    assert log["signatures"] == "computed"
    # downstream of a recomputed stage must recompute too (stale cascade)
    assert log["verified_pairs"] == "computed"
    assert log["clusters"] == "computed"
    assert c1 == c2


def _part_files(table_dir: str) -> list[str]:
    """A table's parquet part files, partition directories included, in
    path order."""
    return sorted(glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True))


def _run_rows(spark, workdir: str, table: str, run_id: str):
    """One run's rows of the metrics or lineage table, read from its
    ``run_id`` directory."""
    return spark.read.parquet(os.path.join(workdir, table, f"run_id={run_id}")).collect()


def test_metrics_and_lineage_written(spark, turns_df, workdir):
    """One lineage row per committed part file, in path order, holding that
    file's row count; the metrics row of a stage is their sum and the
    stage table's row count."""
    pipe = DedupPipeline(spark, workdir, CFG)
    pipe.run(turns_df)
    metrics = pipe.io.read("metrics").collect()
    stages = {r["stage"] for r in metrics}
    assert {"documents", "exact_clusters", "signatures", "verified_pairs",
            "substring_pairs", "clusters"} <= stages
    assert all(r["seconds"] >= 0 for r in metrics)
    computed = [name for name, how in pipe.stage_log if how == "computed"]
    assert sorted(stages) == sorted(computed) and len(metrics) == len(computed)
    lineage = {}
    for r in pipe.io.read("lineage").collect():
        lineage.setdefault(r["stage"], []).append((r["partition_id"], r["rows"]))
    by_metrics = {r["stage"]: r["rows"] for r in metrics}
    for stage in computed:
        model = [spark.read.parquet(f).count() for f in _part_files(pipe.io.path(stage))]
        got = sorted(lineage[stage])
        assert [pid for pid, _ in got] == list(range(len(model))), stage
        assert [n for _, n in got] == model, stage
        assert sum(model) == by_metrics[stage] == pipe.io.read(stage).count(), stage


def test_run_ids_read_back_as_strings(spark, turns_df, workdir):
    """``run_id`` reads back from the metrics and lineage tables as the
    exact string each run wrote, also when every id in a table looks like
    a number (inferred, ``1234e5678901`` reads as the double ``inf`` and
    ``000000000042`` as the long 42)."""
    ids = ["1234e5678901", "000000000042"]
    for run_id in ids:
        pipe = DedupPipeline(spark, workdir, CFG, enable_substring=False)
        pipe.run_id = run_id
        pipe.run(turns_df, resume=False)
    for table in ("metrics", "lineage"):
        got = pipe.io.read(table).select("run_id").distinct().collect()
        assert sorted(r["run_id"] for r in got) == sorted(ids), (table, got)


def test_record_jobs_per_run(spark, turns_df, workdir, count_jobs, monkeypatch):
    """Stage bookkeeping is collected on the driver and written once per
    run: one ``_record`` call of at most 2 Spark jobs (the lineage append
    and the metrics append). A fully resumed run issues none and writes
    no rows."""
    record = DedupPipeline._record
    jobs = []

    def counted(self, *args):
        jobs.append(count_jobs(lambda: record(self, *args)))

    monkeypatch.setattr(DedupPipeline, "_record", counted)
    first = DedupPipeline(spark, workdir, CFG)
    first.run(turns_df)
    assert len(jobs) == 1 and jobs[0] <= 2, jobs

    resumed = DedupPipeline(spark, workdir, CFG)
    resumed.run(turns_df)
    assert all(how == "resumed" for _, how in resumed.stage_log), resumed.stage_log
    assert jobs[1:] == [0], jobs
    for table in ("metrics", "lineage"):
        runs = sorted(os.listdir(os.path.join(workdir, table)))
        assert [r for r in runs if r.startswith("run_id=")] == [f"run_id={first.run_id}"]


def test_failed_run_records_committed_stages(spark, turns_df, workdir, monkeypatch):
    """A run that raises still records every stage it committed, and the
    resumed rerun records just the stages it computes, under its own
    run id."""
    import cpdd_spark.pipeline as pl

    def failing(*args, **kwargs):
        raise RuntimeError("substring tier failed")

    monkeypatch.setattr(pl, "substring_pairs", failing)
    p1 = DedupPipeline(spark, workdir, CFG)
    with pytest.raises(RuntimeError, match="substring tier failed"):
        p1.run(turns_df)
    committed = ["documents", "exact_clusters", "signatures", "verified_pairs"]
    counts = {name: p1.io.read(name).count() for name in committed}

    def recorded(run_id):
        metrics = {r["stage"]: r["rows"] for r in _run_rows(spark, workdir, "metrics", run_id)}
        lineage = {}
        for r in _run_rows(spark, workdir, "lineage", run_id):
            lineage[r["stage"]] = lineage.get(r["stage"], 0) + r["rows"]
        return metrics, lineage

    assert recorded(p1.run_id) == (counts, counts)

    monkeypatch.undo()
    p2 = DedupPipeline(spark, workdir, CFG)
    p2.run(turns_df)
    rerun = ["substring_pairs", "clusters"]
    assert [name for name, how in p2.stage_log if how == "computed"] == rerun
    counts2 = {name: p2.io.read(name).count() for name in rerun}
    assert recorded(p2.run_id) == (counts2, counts2)
    assert recorded(p1.run_id) == (counts, counts)


def test_pipeline_partitioned_output_layout(spark, turns_df, workdir):
    """R15: clusters land hash-bucketed on conv_id, metrics/lineage
    partitioned by run_id — and resume still sees the committed stages."""
    pipe = DedupPipeline(spark, workdir, CFG)
    pipe.run(turns_df)

    cluster_parts = [
        d for d in os.listdir(os.path.join(workdir, "clusters"))
        if d.startswith("part_bucket=")
    ]
    assert len(cluster_parts) >= 2, cluster_parts  # really hash-spread
    for table in ("metrics", "lineage"):
        runs = [
            d for d in os.listdir(os.path.join(workdir, table))
            if d.startswith("run_id=")
        ]
        assert runs == [f"run_id={pipe.run_id}"], (table, runs)

    # partition column reads back and matches the hash rule
    from pyspark.sql import functions as F

    clusters = pipe.io.read("clusters")
    bad = clusters.filter(
        F.col("part_bucket")
        != F.pmod(F.crc32("conv_id"), F.lit(CFG.output_buckets)).cast("int")
    )
    assert bad.count() == 0

    # a second pipeline over the same workdir resumes every stage
    pipe2 = DedupPipeline(spark, workdir, CFG)
    pipe2.run(turns_df)
    assert all(how == "resumed" for _, how in pipe2.stage_log), pipe2.stage_log


@pytest.mark.parametrize("missing", ["shingles", "fps"])
def test_resume_with_legacy_signatures_schema(spark, turns_df, workdir, missing):
    """A committed signatures table that lacks a column a later stage reads
    is not recomputed on resume: the run fails at plan time in the first
    stage that reads the column, before that stage or any later one
    changes. ``resume=False`` rebuilds the clusters of a clean run.

    - ``shingles``: a table from before the shingle sets were stored, in a
      run that stopped after the signatures stage, fails in verify;
    - ``fps``: the table of a ``--no-substring`` run (no ``fps``/``rset``,
      no substring_pairs table) resumed with substring on fails in the
      substring stage.
    """
    import shutil

    clean = DedupPipeline(spark, workdir + "_clean", CFG).run(turns_df)
    c1 = {(r["conv_id"], r["cluster_id"]) for r in clean.collect()}

    if missing == "shingles":
        p1 = DedupPipeline(spark, workdir, CFG)
        p1.run(turns_df)
        # rewrite the committed signatures table WITHOUT the set column,
        # and drop the verify commit: the run stopped after signatures
        legacy = p1.io.read("signatures").drop("shingles").localCheckpoint(eager=True)
        path = p1.io.path("signatures")
        shutil.rmtree(path)
        legacy.write.parquet(path)
        assert os.path.isfile(os.path.join(path, "_SUCCESS"))
        os.remove(os.path.join(p1.io.path("verified_pairs"), "_SUCCESS"))
        failing = "verified_pairs"
    else:
        p1 = DedupPipeline(spark, workdir, CFG, enable_substring=False)
        p1.run(turns_df)
        assert "fps" not in p1.io.read("signatures").columns
        failing = "substring_pairs"

    def snapshot():
        return {
            name: sorted(
                (os.path.relpath(os.path.join(d, f), workdir),
                 os.path.getmtime(os.path.join(d, f)))
                for d, _, fs in os.walk(p1.io.path(name))
                for f in fs
            )
            for name in ("verified_pairs", "substring_pairs", "clusters")
        }

    before = snapshot()
    p2 = DedupPipeline(spark, workdir, CFG)
    with pytest.raises(Exception, match=missing):
        p2.run(turns_df)
    assert dict(p2.stage_log)["signatures"] == "resumed"
    assert failing not in dict(p2.stage_log)
    assert snapshot() == before

    p3 = DedupPipeline(spark, workdir, CFG)
    c3 = {(r["conv_id"], r["cluster_id"]) for r in p3.run(turns_df, resume=False).collect()}
    assert c1 == c3


def test_pipeline_fingerprint_exact_verify(spark, turns_df, workdir):
    """cfg.exact_verify='fingerprint' (the at-scale exact tier) through the
    PRODUCT entry produces identical final clusters to byte-verify."""
    from dataclasses import replace

    byte_dir, fp_dir = workdir + "_bytes", workdir + "_fp"
    cb = DedupPipeline(spark, byte_dir, CFG).run(turns_df)
    cf = DedupPipeline(
        spark, fp_dir, replace(CFG, exact_verify="fingerprint")
    ).run(turns_df)
    as_sets = lambda df: {
        (r["conv_id"], r["cluster_id"])
        for r in df.select("conv_id", "cluster_id").collect()
    }
    assert as_sets(cb) == as_sets(cf)


def test_pipeline_empty_input(spark, workdir):
    """Zero turns: every stage commits an EMPTY table and the run completes
    (a crashed first stage would instead leave nothing committed)."""
    empty = spark.createDataFrame(
        [],
        "conv_id string, turn_idx int, role string, text string, tool string,"
        " ts timestamp",
    )
    pipe = DedupPipeline(spark, workdir, CFG)
    clusters = pipe.run(empty)
    assert clusters.count() == 0
    assert dict(pipe.stage_log)["clusters"] == "computed"
    # every computed stage is in the lineage, with a row sum of 0
    lineage = {
        r["stage"]: r["rows"]
        for r in pipe.io.read("lineage").groupBy("stage").sum("rows")
        .withColumnRenamed("sum(rows)", "rows").collect()
    }
    computed = [name for name, how in pipe.stage_log if how == "computed"]
    assert lineage == dict.fromkeys(computed, 0), lineage
