"""Physical-plan regression guards: the properties docs/SCALE.md claims
(pushdown, pruning, no global sort in assembly) must stay visible in
``.explain`` output — a plan regression is a perf bug even when results
stay correct."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cpdd_spark.assemble import assemble_documents

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    # earlier test modules may have cached the same tables; a cached
    # relation rewrites the plan (InMemoryTableScan / ReusedExchange) and
    # hides the scan-level properties these tests assert
    df.sparkSession.catalog.clearCache()
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter("n_chars > 100")
        .select("doc_id", "text")
    )
    plan = _plan(df)
    assert "n_chars" in plan.split("DataFilters")[1][:200]  # filter reached scan
    # pruned read schema: only the 3 referenced columns, not lang/source
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "lang" not in scan and "source" not in scan


def test_assemble_plan_shape(spark, turns_df):
    plan = _plan(assemble_documents(turns_df))
    # partial + final hash aggregation around exactly one exchange...
    assert plan.count("Exchange hashpartitioning") == 1
    # ...and no sort operator: ordering is array_sort inside the agg row
    assert "Sort [" not in plan


def test_pricing_summary_pushdown(spark):
    """The Q1-shape scan must push the shipdate filter into the parquet
    reader (raw TIMESTAMP_NTZ comparison — a to_date() wrapper would block
    pushdown) and prune to the 7 referenced columns."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["pricing_summary"](spark, SF))
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "LessThanOrEqual(l_shipdate" in scan  # pushed filter
    assert "l_orderkey" not in scan and "l_partkey" not in scan  # pruned


def test_region_revenue_broadcasts_dims(spark):
    """The Q5-shape star join must broadcast the dimension tables, not
    shuffle the fact table against them."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["region_revenue"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region
    assert "CartesianProduct" not in plan


def test_token_freq_take_ordered(spark):
    """The vocabulary top-100 must be per-partition heaps
    (TakeOrderedAndProject), never a global sort of the whole count
    table, and the count must partial-aggregate before the shuffle."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["token_freq"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan  # map-side combine before the exchange


def test_decontaminate_broadcasts_probe_grams(spark):
    """The decontamination screen must broadcast the probe-gram union
    (map-side semi-join against the corpus-side explode), never shuffle
    the corpus grams against the probe set, and never go cartesian."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["decontaminate"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan


def _window_is_partitionless(line: str) -> bool:
    """Parse a physical-plan 'Window ...' line. Spark prints only the
    NON-EMPTY specs: ([funcs], [part], [order]) when fully specified,
    ([funcs], [part]) for partitioned-unordered, ([funcs], [order]) for the
    partition-less 'Moving all data to a single partition' shape. With two
    groups, the second is an ORDER spec (and the window partition-less) iff
    it carries sort directions."""
    s = line[line.index("Window ") + len("Window ") :]
    depth = 0
    groups: list[str] = []
    start = 0
    for i, ch in enumerate(s):
        if ch == "[":
            depth += 1
            if depth == 1:
                start = i
        elif ch == "]":
            depth = max(depth - 1, 0)
            if depth == 0:
                groups.append(s[start : i + 1])
    if len(groups) >= 3:
        return False
    if len(groups) <= 1:
        return True  # funcs only: no partition, no order
    second = groups[1]
    return " ASC" in second or " DESC" in second


def test_no_unbounded_single_partition_window(spark):
    """Scale guard (round-2 verdict item 2): no queries() plan may funnel
    an UNBOUNDED input through a partition-less Window (WindowExec moves
    all rows to one task — a scale-killer invisible at sf0.001). A
    partition-less Window is tolerated only when the plan bounds its input
    first (TakeOrderedAndProject / GlobalLimit — e.g. ship_priority ranks
    the already-limited top-10)."""
    import __spark_entry__ as entry_mod

    offenders = []
    for name, q in entry_mod.queries().items():
        if name == "pipeline_metrics":
            continue  # runs a full pipeline at build time; covered by test_pipeline
        plan = _plan(q(spark, SF))
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Window [" not in line:
                continue
            if not _window_is_partitionless(line):
                continue  # partitioned: parallel
            below = "\n".join(lines[i:])  # children print after the node
            if "TakeOrderedAndProject" not in below and "GlobalLimit" not in below:
                offenders.append((name, line.strip()))
    assert offenders == [], f"partition-less Window over unbounded input: {offenders}"


def test_ship_priority_take_ordered(spark):
    """The Q3 top-10 must compile to TakeOrderedAndProject (parallel
    per-partition heaps), not a global-window rank over the aggregate."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["ship_priority"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_exact_eager_path_skips_window(spark, turns_df):
    from cpdd_spark.exact import exact_clusters

    docs = assemble_documents(turns_df)
    lazy_plan = _plan(exact_clusters(docs, lazy_hash=True))
    eager_plan = _plan(exact_clusters(docs, lazy_hash=False))
    assert lazy_plan.count("Window") == 2
    assert eager_plan.count("Window") == 1


def test_no_unsanctioned_cartesian_products(spark):
    """Global scale guard: the ONLY plans allowed to contain a cartesian
    product are the two explicitly-documented exact ANN baselines
    (ann_topk / embed_dup_pairs twin paths run brute force BY DESIGN as
    the oracle twins of the LSH/IVF routes). Any other query acquiring a
    crossJoin — e.g. a lost join key after a refactor — fails here before
    it fails at 100x the data."""
    import __spark_entry__ as entry_mod

    ALLOWED = {"ann_topk", "ann_recall", "ivf_recall"}  # exact-baseline halves
    offenders = []
    for name, q in entry_mod.queries().items():
        if name in ALLOWED or name == "pipeline_metrics":
            continue
        plan = _plan(q(spark, SF))
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            offenders.append(name)
    assert offenders == [], offenders


def test_embed_dup_pairs_no_string_casts(spark):
    """The typed-id candidate path (similarity.cosine_dup_pairs_lsh ->
    pairs_from_buckets(id_col='id')) must keep native LONG vector ids end
    to end: a reintroduced string cast would triple the shuffle key bytes
    and silently regress the r5 typed-id work. No cast-to-string may
    appear anywhere in the lazy plan, and no cross join either (the entry
    query checkpoints its result, so the all-queries guard above sees only
    a scan)."""
    import re

    from cpdd_spark.similarity import cosine_dup_pairs_lsh

    caches: list = []
    df = cosine_dup_pairs_lsh(
        spark.read.parquet(f"{SF}/embeddings.parquet"),
        threshold=0.8,
        dim=64,
        release=caches,
    )
    plan = _plan(df)
    for c in caches:
        c.unpersist()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    casts = re.findall(r"cast\([^)]*as string\)", plan.lower())
    assert not casts, casts[:5]


def _plan_nodes(node):
    """Every node of a physical plan, through AQE wrappers and query stages."""
    yield node
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _plan_nodes(node.executedPlan())
    elif name.endswith("QueryStage"):
        yield from _plan_nodes(node.plan())
    else:
        kids = node.children()
        for i in range(kids.size()):
            yield from _plan_nodes(kids.apply(i))


def test_verify_builds_no_hash_table_on_candidates(spark):
    """Hot-band guard: a shuffled hash join cannot spill, and after the
    first verify join the candidate side also carries the ``a`` sets, so
    no ShuffledHashJoin may build on the candidate side (the one whose rows
    carry both ``a`` and ``b``). Broadcast is off so the plan is the one a
    corpus too large to broadcast gets."""
    from cpdd_spark.config import DedupConfig
    from cpdd_spark.verify import verify_pairs_sets

    n = 40
    pairs = spark.createDataFrame(
        [(f"d{i:02d}", f"d{j:02d}") for i in range(n) for j in range(i + 1, n)],
        "a string, b string",
    ).localCheckpoint(eager=True)
    sets = spark.createDataFrame(
        [(f"d{i:02d}", [i, i + 1, 7]) for i in range(n)],
        "conv_id string, shingles array<long>",
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        verified = verify_pairs_sets(pairs, sets, DedupConfig(tau=0.0))
        assert verified.count() == n * (n - 1) // 2
        builds = []
        for node in _plan_nodes(verified._jdf.queryExecution().executedPlan()):
            if node.nodeName() == "ShuffledHashJoin":
                left = node.buildSide().toString() == "BuildLeft"
                side = (node.left() if left else node.right()).output()
                builds.append({side.apply(i).name() for i in range(side.size())})
    finally:
        spark.conf.set(key, old)
    assert not [cols for cols in builds if {"a", "b"} <= cols], builds


def test_text_kernel_is_the_cascade_s_one_python_pass(spark, turns_df):
    """Document text is tokenized by exactly one Arrow kernel: across the
    stage plans of the batch cascade (substring on) there is one
    MapInPandas, in ``signatures``; ``substring_pairs`` over the signed
    table is pure JVM."""
    from cpdd_spark.config import DedupConfig
    from cpdd_spark.pipeline import cascade

    plans = {}

    def store(name, compute):
        df = compute()
        plans[name] = df._jdf.queryExecution().executedPlan().toString()
        return df.localCheckpoint(eager=True)

    cascade(assemble_documents(turns_df), DedupConfig(), store)
    counts = {name: plan.count("MapInPandas") for name, plan in plans.items()}
    assert counts == {
        "exact_clusters": 0,
        "signatures": 1,
        "verified_pairs": 0,
        "substring_pairs": 0,
        "clusters": 0,
    }, counts


def test_record_builds_its_rows_in_the_jvm(spark, tmp_path, monkeypatch):
    """The lineage and metrics frames ``DedupPipeline._record`` appends are
    built in the JVM: no Python RDD scan (``createDataFrame`` over a list
    pickles the rows through one and starts a second Python worker pool)
    and no Python evaluation node."""
    from cpdd_spark.config import DedupConfig
    from cpdd_spark.io import TableIO
    from cpdd_spark.pipeline import DedupPipeline

    plans = {}
    append = TableIO.append

    def capture(self, df, name, partition_by=None):
        qe = df._jdf.queryExecution()
        plans[name] = qe.optimizedPlan().toString() + qe.executedPlan().toString()
        append(self, df, name, partition_by)

    monkeypatch.setattr(TableIO, "append", capture)
    pipe = DedupPipeline(spark, str(tmp_path), DedupConfig())
    pipe._committed = [("documents", 1.0, 2.5, [3, 0, 4]), ("clusters", 2.5, 4.0, [7])]
    pipe._record()
    assert sorted(plans) == ["lineage", "metrics"]
    for name, plan in plans.items():
        for node in ("ExistingRDD", "LogicalRDD", "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert node not in plan, (name, node)
    lineage = pipe.io.read("lineage").collect()
    assert sorted((r["stage"], r["partition_id"], r["rows"]) for r in lineage) == [
        ("clusters", 0, 7), ("documents", 0, 3), ("documents", 1, 0), ("documents", 2, 4)
    ]
    metrics = {r["stage"]: (r["rows"], r["t_start"], r["t_end"], r["seconds"])
               for r in pipe.io.read("metrics").collect()}
    assert metrics == {"documents": (7, 1.0, 2.5, 1.5), "clusters": (7, 2.5, 4.0, 1.5)}


def _plan_paths(node, above=()):
    """``(node, ancestors)`` for every node of a physical plan, through AQE
    wrappers and query stages."""
    yield node, above
    name, above = node.nodeName(), above + (node,)
    if name == "AdaptiveSparkPlan":
        yield from _plan_paths(node.executedPlan(), above)
    elif name.endswith("QueryStage"):
        yield from _plan_paths(node.plan(), above)
    else:
        kids = node.children()
        for i in range(kids.size()):
            yield from _plan_paths(kids.apply(i), above)


def test_stream_index_docs_meet_the_batch_by_broadcast(spark, tmp_path, monkeypatch):
    """The stream's near tier reads the stored index docs (the shingle
    sets) only as the streamed side of broadcast joins: in the batch's one
    collect, every scan of the docs directory has a BroadcastHashJoin above
    it and no exchange or broadcast, so no stored set is repartitioned and
    per-batch shuffle does not grow with the index. Automatic broadcast is
    off, the plan a large index gets: the batch side's hints decide."""
    from cpdd_spark.streaming import IncrementalDedup

    def turns(batch):
        return spark.createDataFrame(
            [(c, 0, "user", " ".join(f"tok{i}" for i in range(s, s + n)), "", None)
             for c, s, n in batch],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )

    index = str(tmp_path / "nearidx")
    dedup = IncrementalDedup(spark, str(tmp_path / "clusters"), near_index_dir=index)
    dedup.process_batch(turns([("a1", 0, 60), ("u1", 500, 40)]), 0)
    collected = []
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    to_pandas = frame.toPandas

    def capture(self):
        collected.append(self)
        return to_pandas(self)

    monkeypatch.setattr(frame, "toPandas", capture)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        dedup.process_batch(turns([("b1", 0, 52), ("v1", 900, 40)]), 1)
    finally:
        spark.conf.set(key, old)
    assert len(collected) == 1
    plan = collected[0]._jdf.queryExecution().executedPlan()
    docs_dir = os.path.join(index, "docs")
    scans = [
        (list(node.requiredSchema().fieldNames()), [a.nodeName() for a in above])
        for node, above in _plan_paths(plan)
        if node.nodeName().startswith("Scan parquet")
        and node.relation().location().rootPaths().apply(0).toUri().getPath() == docs_dir
    ]
    assert any("shingles" in cols for cols, _ in scans), scans
    for scan, above in scans:
        assert "BroadcastHashJoin" in above, (scan, above)
        banned = {"Exchange", "ShuffleQueryStage", "AQEShuffleRead", "BroadcastExchange",
                  "BroadcastQueryStage"}
        assert not banned & set(above), (scan, above)


def test_stream_hot_stored_bucket_broadcasts_no_set_per_pair(spark, tmp_path, monkeypatch):
    """A family of near duplicates stored as many representatives shares
    its band buckets, so one new member pairs with all of them. The batch
    side of that verify is broadcast as thin ``(a, b)`` pairs and, apart,
    the fresh shingle sets: no broadcast carries a set per pair. The new
    member still links to the family's cluster."""
    from cpdd_spark.streaming import IncrementalDedup

    def turns(batch):
        return spark.createDataFrame(
            [(c, 0, "user", " ".join(f"tok{i}" for i in range(n)), "", None) for c, n in batch],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )

    clusters = str(tmp_path / "clusters")
    dedup = IncrementalDedup(spark, clusters, near_index_dir=str(tmp_path / "nearidx"))
    # prefixes of one token run: each pair is above tau, so all 20 are
    # stored representatives of one cluster
    dedup.process_batch(turns([(f"f{i:02d}", 60 + i) for i in range(20)]), 0)
    collected = []
    frame = type(spark.range(1))
    to_pandas = frame.toPandas

    def capture(self):
        collected.append(self)
        return to_pandas(self)

    monkeypatch.setattr(frame, "toPandas", capture)
    dedup.process_batch(turns([("g1", 85)]), 1)  # new content, near f05..f19
    assert len(collected) == 1
    plan = collected[0]._jdf.queryExecution().executedPlan()
    broadcast = []
    for node, _ in _plan_paths(plan):
        if node.nodeName() == "BroadcastExchange":
            out = node.output()
            broadcast.append({out.apply(i).name() for i in range(out.size())})
    assert any("sh_a" in cols for cols in broadcast), broadcast
    assert not [cols for cols in broadcast if {"b", "sh_a"} <= cols], broadcast
    got = {r["conv_id"]: r["cluster_id"] for r in spark.read.parquet(clusters).collect()}
    assert got["g1"] == "f00" and set(got.values()) == {"f00"}, got
