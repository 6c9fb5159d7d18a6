"""TableIO Iceberg branch (mock catalog), CLI driver, metadata preservation,
link-type output modes, human-readable stats — the operational surface
(R12/R14/R16/R19, P1)."""

from __future__ import annotations

from unittest.mock import MagicMock

from pyspark.sql import functions as F

from cpdd_spark.assemble import assemble_documents
from cpdd_spark.cli import main
from cpdd_spark.io import TableIO
from cpdd_spark.pipeline import materialize_clusters
from cpdd_spark.textfuncs import human_bytes


# ---- P1: Iceberg branch wiring (no jar offline -> mock catalog) ----------

def _iceberg_io() -> tuple[TableIO, MagicMock]:
    spark = MagicMock()
    spark.conf.get.return_value = "org.apache.iceberg.spark.SparkCatalog"
    return TableIO(spark, root="/ignored"), spark


def test_iceberg_read_write_routing():
    io, spark = _iceberg_io()
    assert io.iceberg

    io.read("clusters")
    spark.read.format.assert_called_once_with("iceberg")
    spark.read.format.return_value.load.assert_called_once_with("cpdd.clusters")

    df = MagicMock()
    io.write(df, "clusters")
    df.writeTo.assert_called_once_with("cpdd.clusters")
    df.writeTo.return_value.createOrReplace.assert_called_once()

    df2 = MagicMock()
    io.append(df2, "metrics")
    df2.writeTo.assert_called_once_with("cpdd.metrics")
    df2.writeTo.return_value.append.assert_called_once()


def test_iceberg_partitioned_write_and_exists_and_drop(spark):
    # the real session fixture stays active: io.write builds F.col()
    # partition expressions, which need a live session even under mocks
    io, mock_spark = _iceberg_io()
    spark_unused = spark  # noqa: F841
    df = MagicMock()
    io.write(df, "documents", partition_by=["n_turns"])
    df.writeTo.return_value.partitionedBy.assert_called_once()
    df.writeTo.return_value.partitionedBy.return_value.createOrReplace.assert_called_once()

    mock_spark.catalog.tableExists.return_value = True
    assert io.exists("documents")
    mock_spark.catalog.tableExists.assert_called_once_with("cpdd.documents")

    io.drop("documents")
    mock_spark.sql.assert_called_once_with("DROP TABLE IF EXISTS cpdd.documents")


def test_parquet_mode_requires_success_marker(spark, tmp_path):
    io = TableIO(spark, str(tmp_path))
    assert not io.iceberg
    assert not io.exists("t")
    io.write(spark.range(3).toDF("x"), "t")
    assert io.exists("t")
    assert io.read("t").count() == 3
    # a torn write (no _SUCCESS) must not count as committed
    (tmp_path / "torn").mkdir()
    (tmp_path / "torn" / "part-0.parquet").write_bytes(b"junk")
    assert not io.exists("torn")


def test_parquet_write_runs_the_plan_once(spark, tmp_path, count_jobs):
    """A TableIO write issues exactly the jobs of a plain ``df.write`` of
    the same plan: no probe action re-runs the plan's shuffle map stage."""
    def grouped():
        return spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()

    plain = count_jobs(lambda: grouped().write.parquet(str(tmp_path / "plain")))
    io = TableIO(spark, str(tmp_path))
    assert count_jobs(lambda: io.write(grouped(), "t")) == plain
    assert io.read("t").count() == 7


def test_parquet_write_zero_partitions_reads_back(spark, tmp_path):
    """A zero-partition frame (an empty relation) commits a table that
    reads back with its schema, unpartitioned and with ``partition_by``."""
    empty = spark.sql("SELECT * FROM VALUES (1, 'a') AS t(k, v) WHERE false")
    assert empty.rdd.getNumPartitions() == 0
    io = TableIO(spark, str(tmp_path))
    io.write(empty, "flat")
    io.write(empty, "parted", partition_by=["k"])
    for name in ("flat", "parted"):
        back = io.read(name)
        assert sorted(back.columns) == ["k", "v"], name
        assert back.count() == 0, name


def test_file_rows_reads_part_file_footers(spark, tmp_path, monkeypatch):
    """``file_rows`` is each committed part file's row count, in path
    order, partition directories included; a zero-row table is one empty
    part file. The Hadoop FileSystem branch (remote warehouses), driven
    here over the local filesystem, reads the same counts."""
    import glob

    import cpdd_spark.io as io_mod

    io = TableIO(spark, str(tmp_path))
    df = spark.range(100).select((F.col("id") % 3).alias("k"), "id").repartition(4)
    io.write(df, "parted", partition_by=["k"])
    io.write(df.filter("id < 0"), "empty")
    files = sorted(glob.glob(str(tmp_path / "parted" / "**" / "*.parquet"), recursive=True))
    rows = io.file_rows("parted")
    assert rows == [spark.read.parquet(f).count() for f in files]
    assert len(rows) > 3 and sum(rows) == 100
    assert io.file_rows("empty") == [0]

    monkeypatch.setattr(io_mod, "_is_remote", lambda path: True)
    assert io.file_rows("parted") == rows
    assert io.file_rows("empty") == [0]
    assert io_mod._part_files(str(tmp_path / "absent")) == []


def test_iceberg_file_rows_reads_files_metadata_table():
    io, spark = _iceberg_io()
    spark.sql.return_value.collect.return_value = [(5,), (0,)]
    assert io.file_rows("clusters") == [5, 0]
    spark.sql.assert_called_once_with(
        "SELECT record_count FROM cpdd.clusters.files ORDER BY file_path"
    )


# ---- R14: metadata preservation -------------------------------------------

def test_assemble_keep_metadata_roundtrip(spark, turns_df):
    docs = assemble_documents(turns_df, keep_metadata=True)
    row = docs.filter(F.col("n_turns") >= 2).first()
    orig = sorted(
        (r["turn_idx"], r["role"], r["text"], r["tool"])
        for r in turns_df.filter(F.col("conv_id") == row["conv_id"]).collect()
    )
    got = [(t["turn_idx"], t["role"], t["text"], t["tool"]) for t in row["turns"]]
    assert got == orig  # turn order restored, attributes intact
    # and the doc column is unchanged vs the lean path
    lean = assemble_documents(turns_df).filter(
        F.col("conv_id") == row["conv_id"]
    ).first()
    assert lean["doc"] == row["doc"] and lean["doc_len"] == row["doc_len"]


# ---- R12: link-type output modes ------------------------------------------

def test_materialize_clusters_carries_canonical_doc(spark):
    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c")], "conv_id string, cluster_id string"
    )
    docs = spark.createDataFrame(
        [("a", "DOC-A"), ("b", "DOC-B"), ("c", "DOC-C")],
        "conv_id string, doc string",
    )
    got = {
        r["conv_id"]: r["canonical_doc"]
        for r in materialize_clusters(clusters, docs).collect()
    }
    assert got == {"a": "DOC-A", "b": "DOC-A", "c": "DOC-C"}


# ---- R16: human-readable bytes --------------------------------------------

def test_human_bytes_ladder(spark):
    vals = [0, 512, 1536, 5 * (1 << 20), 3 * (1 << 30), 2 * (1 << 40)]
    df = spark.createDataFrame([(v,) for v in vals], "b long")
    got = [r["h"] for r in df.select(human_bytes("b").alias("h")).collect()]
    assert got == ["0 B", "512 B", "1.5 KiB", "5.0 MiB", "3.0 GiB", "2.0 TiB"]


# ---- session defaults fit the host ------------------------------------------

def test_driver_memory_default_fits_host(spark):
    """The default ``spark.driver.memory`` is derived from the host's
    physical memory: at least 1g, at most what the host has. The running
    session uses it unless ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    import os

    from cpdd_spark.session import default_driver_memory

    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = default_driver_memory()
    assert mem.endswith("g") and int(mem[:-1]) >= 1, mem
    assert int(mem[:-1]) << 30 <= phys, (mem, phys)
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        assert spark.conf.get("spark.driver.memory") == mem


# ---- R19: CLI driver --------------------------------------------------------

def test_cli_end_to_end(spark, turns_df, tmp_path, capsys):
    turns_dir = str(tmp_path / "turns")
    turns_df.write.parquet(turns_dir)
    workdir = str(tmp_path / "work")
    rc = main(
        [
            "--input", turns_dir,
            "--workdir", workdir,
            "--link", "materialize",
            "--preserve",
            "--stats",
            "--no-substring",
        ],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "clusters table committed" in out and "canonical" in out
    io = TableIO(spark, workdir)
    for t in ("documents", "clusters", "clusters_docs", "documents_meta"):
        assert io.exists(t), t
    # materialized rows carry content; edges rows don't
    assert "canonical_doc" in io.read("clusters_docs").columns
    # resume: second run must recompute nothing
    rc2 = main(
        ["--input", turns_dir, "--workdir", workdir, "--no-substring"],
        spark=spark,
    )
    assert rc2 == 0
    assert "computed" not in capsys.readouterr().out.replace(
        "clusters table committed", ""
    )


def test_cli_interactive_overwrite_guard(spark, turns_df, tmp_path, capsys,
                                         monkeypatch):
    """cpdd's -i analogue: with --no-resume over committed stage tables,
    a non-TTY stdin refuses, 'n' aborts, 'y' proceeds; without
    --no-resume the flag is inert (resume never overwrites)."""
    import sys as _sys

    turns_dir = str(tmp_path / "turns")
    turns_df.write.parquet(turns_dir)
    workdir = str(tmp_path / "work")
    base = ["--input", turns_dir, "--workdir", workdir, "--no-substring"]
    assert main(base, spark=spark) == 0
    capsys.readouterr()

    # non-interactive stdin (pytest's): refuse rather than overwrite
    rc = main(base + ["-i", "--no-resume"], spark=spark)
    assert rc == 2
    assert "refusing to overwrite" in capsys.readouterr().err

    # a TTY answering 'n' aborts
    monkeypatch.setattr(_sys.stdin, "isatty", lambda: True)
    monkeypatch.setattr("builtins.input", lambda prompt: "n")
    rc = main(base + ["-i", "--no-resume"], spark=spark)
    assert rc == 2
    assert "aborted" in capsys.readouterr().err

    # 'y' proceeds with the overwrite run
    monkeypatch.setattr("builtins.input", lambda prompt: "y")
    rc = main(base + ["-i", "--no-resume"], spark=spark)
    assert rc == 0
    assert "clusters table committed" in capsys.readouterr().out

    # -i without --no-resume never prompts (resume is no-clobber already)
    monkeypatch.setattr(
        "builtins.input",
        lambda prompt: (_ for _ in ()).throw(AssertionError("prompted")),
    )
    assert main(base + ["-i"], spark=spark) == 0


def test_cli_stream_mode(spark, tmp_path, capsys):
    """--stream drives IncrementalDedup with the near tier: batch files
    land, a rerun picks up a near-dup and links it across invocations."""
    import os

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    work = str(tmp_path / "swork")
    near = str(tmp_path / "nearidx")
    doc = " ".join(f"tok{i}" for i in range(60))
    sub = " ".join(f"tok{i}" for i in range(50))

    def _drop(name, conv_id, text):
        # the file stream source watches for FILES: write one parquet file
        # (not a Spark part-directory) per arriving batch
        import pandas as pd

        pd.DataFrame(
            {
                "conv_id": [conv_id],
                "turn_idx": pd.array([0], dtype="int32"),
                "role": ["user"],
                "text": [text],
                "tool": [""],
                "ts": pd.array([pd.NaT], dtype="datetime64[us]"),
            }
        ).to_parquet(str(in_dir / name), index=False)

    _drop("b1.parquet", "one", doc)
    argv = ["--input", str(in_dir), "--workdir", work, "--stream", "--near-index", near]
    assert main(argv, spark=spark) == 0
    # second invocation: a near-dup file has arrived meanwhile
    _drop("b2.parquet", "two", sub)
    assert main(argv, spark=spark) == 0
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in spark.read.parquet(os.path.join(work, "clusters")).collect()
    }
    assert got == {"one": "one", "two": "one"}, got
    assert "streaming clusters index" in capsys.readouterr().out


def test_cli_stream_compact_and_turn_level(spark, tmp_path, capsys):
    """Round-4 CLI surface: --compact-index compacts the near index after
    the stream drains; --turn-level drives the stateful-assembly path."""
    import os

    import pandas as pd

    in_dir = tmp_path / "cin"
    in_dir.mkdir()
    work = str(tmp_path / "cwork")
    near = str(tmp_path / "cnear")
    doc = " ".join(f"tok{i}" for i in range(60))
    sub = " ".join(f"tok{i}" for i in range(50))

    def _drop(name, conv_id, text):
        pd.DataFrame(
            {
                "conv_id": [conv_id],
                "turn_idx": pd.array([0], dtype="int32"),
                "role": ["user"],
                "text": [text],
                "tool": [""],
                "ts": pd.array([pd.NaT], dtype="datetime64[us]"),
            }
        ).to_parquet(str(in_dir / name), index=False)

    _drop("b1.parquet", "one", doc)
    _drop("b2.parquet", "two", sub)
    argv = [
        "--input", str(in_dir), "--workdir", work, "--stream",
        "--near-index", near, "--compact-index",
    ]
    assert main(argv, spark=spark) == 0
    out = capsys.readouterr().out
    assert "near index compacted" in out
    docs_idx = spark.read.parquet(os.path.join(near, "docs"))
    assert "doc" not in docs_idx.columns  # set-based index through the CLI

    # turn-level mode: out-of-order turns of a dup conversation across
    # files, with advancer traffic + a flush rerun (watermark restore)
    tin = tmp_path / "tlin"
    tin.mkdir()
    twork = str(tmp_path / "tlwork")

    def _turns_file(name, rows):
        pd.DataFrame(
            {
                "conv_id": [r[0] for r in rows],
                "turn_idx": pd.array([r[1] for r in rows], dtype="int32"),
                "role": ["user"] * len(rows),
                "text": [r[2] for r in rows],
                "tool": [""] * len(rows),
                "ts": pd.array(
                    [pd.Timestamp(r[3]) for r in rows], dtype="datetime64[us]"
                ),
            }
        ).to_parquet(str(tin / name), index=False)

    _turns_file("f1.parquet", [
        ("orig", 0, "hello", "2024-01-01 10:00:00"),
        ("orig", 1, "bye", "2024-01-01 10:00:30"),
        ("copy", 1, "bye", "2024-01-01 11:00:30"),
    ])
    _turns_file("f2.parquet", [("copy", 0, "hello", "2024-01-01 11:00:00")])
    _turns_file("f3.parquet", [("w1", 0, "adv", "2024-01-01 13:00:00")])
    _turns_file("f4.parquet", [("w2", 0, "adv2", "2024-01-01 14:00:00")])
    targv = [
        "--input", str(tin), "--workdir", twork, "--stream", "--turn-level",
    ]
    assert main(targv, spark=spark) == 0
    _turns_file("f5.parquet", [("w3", 0, "flush", "2024-01-01 15:00:00")])
    assert main(targv, spark=spark) == 0
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in spark.read.parquet(os.path.join(twork, "clusters")).collect()
    }
    # the CLI's default maxFilesPerTrigger batches all files together, so
    # both conversations complete in ONE micro-batch and the within-batch
    # rule applies: min conv_id ('copy' < 'orig') is the canonical
    assert got.get("orig") == "copy" and got.get("copy") == "copy", got
