"""Pre-flight of the driver's correctness protocol: every ``queries()``
entry runs; every ``oracle_sql()`` entry matches the Spark result on
row-count, column names, and EXACT values (the driver hashes values, so
approximate agreement is not enough)."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return c


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return v
    return v


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


ORACLES = sorted(entry_mod.oracle_sql().keys())
ROWS_ONLY = sorted(set(entry_mod.queries()) - set(ORACLES))


@pytest.mark.parametrize("name", ORACLES)
def test_query_matches_oracle(spark, con, name):
    q = entry_mod.queries()[name]
    df = q(spark, SF_DIR)
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]

    cur = con.execute(entry_mod.oracle_sql()[name])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()

    assert sorted(cols) == sorted(ocols), (cols, ocols)
    assert len(rows) == len(orows), f"{name}: {len(rows)} vs {len(orows)}"
    got, exp = _rowset(cols, rows), _rowset(ocols, orows)
    mism = [i for i, (g, e) in enumerate(zip(got, exp)) if g != e]
    assert not mism, f"{name}: first mismatch {got[mism[0]]} vs {exp[mism[0]]}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    df = entry_mod.queries()[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_event_quantiles_approx_within_rank_bound(spark):
    """The GK-sketch percentiles (the at-scale form) must land within the
    documented rank-error bound of the exact quantiles: at accuracy a,
    the returned p-quantile's true rank is within n/a of p*n — checked by
    bracketing each approx value between the exact quantiles at p +- 1/a
    (with a safety margin for interpolation at the bracket edges)."""
    from pyspark.sql import functions as F

    eps = 1.0 / 10000
    ev = entry_mod._read(spark, SF_DIR, "events")

    # the query itself now emits the bound as engine-stable booleans (its
    # oracle is literal TRUE) — every flag must hold
    flags = entry_mod.q_event_quantiles_approx(spark, SF_DIR).collect()
    assert len(flags) > 0
    for r in flags:
        assert r["p50_ok"] and r["p90_ok"] and r["p99_ok"], r.asDict()

    # independent check of the raw sketch VALUES against exact quantiles
    approx = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias(
                "p50_approx"
            ),
            F.percentile_approx("value", F.lit(0.9), F.lit(10000)).alias(
                "p90_approx"
            ),
            F.percentile_approx("value", F.lit(0.99), F.lit(10000)).alias(
                "p99_approx"
            ),
        )
        .collect()
    }
    for p, col in ((0.5, "p50_approx"), (0.9, "p90_approx"), (0.99, "p99_approx")):
        for et, row in approx.items():
            # the sketch returns an ELEMENT whose rank is within n*eps of
            # p*n, while the exact `percentile` interpolates between
            # elements — bracket with an extra 2/n of rank slack to absorb
            # the definitional off-by-one at the bracket edges
            n = int(row["n"])
            margin = 2 * eps + 2.0 / max(n, 1)
            lo_p, hi_p = max(p - margin, 0.0), min(p + margin, 1.0)
            b = (
                ev.filter(F.col("event_type") == et)
                .agg(
                    F.percentile("value", F.lit(lo_p)).alias("lo"),
                    F.percentile("value", F.lit(hi_p)).alias("hi"),
                )
                .collect()[0]
            )
            v = row[col]
            assert b["lo"] <= v <= b["hi"], (et, col, v, b["lo"], b["hi"])


def test_bench_query_keys_resolve():
    """Every HEADLINE/EXTRA name in bench.py must resolve to a runnable
    query exactly the way bench builds its dict — a renamed queries() key
    fails here instead of at round-end bench time."""
    import bench

    queries = dict(entry_mod.queries())
    queries["minhash_pairs_lsh"] = entry_mod.q_minhash_pairs_lsh
    queries["signatures"] = entry_mod.q_signatures_full
    for name in bench.HEADLINE + bench.EXTRA:
        assert name in queries, name
        assert callable(queries[name])


def test_clusters_lsh_equals_ngram_route_sf01(spark, tmp_path):
    """The production LSH route (q_clusters_lsh: banded candidates over
    exact reps + pure-JVM set verify) must produce IDENTICAL clusters to
    the exhaustive inverted-index route (q_clusters) on the sf0.1 bench
    corpus — the claim that licenses sharing the DuckDB oracle and the
    at-scale flagship story (same clusters, cheaper candidates;
    reference README:46-73 tiered-cascade discipline). Deterministic:
    MinHash/banding are seeded, so recall on a fixed corpus is a fixed
    fact, not a probability. The third side runs the same cascade through
    DedupPipeline's stage tables instead of the session cache, pinning
    both stores to the same clusters."""
    import os

    from cpdd_spark.pipeline import DedupPipeline

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    pipeline = DedupPipeline(spark, str(tmp_path / "work"), enable_substring=False)
    routes = {
        "ngram": entry_mod.q_clusters(spark, sf),
        "lsh": entry_mod.q_clusters_lsh(spark, sf),
        "pipeline": pipeline.run(entry_mod.derived_transcripts(spark, sf)),
    }
    got = {
        route: {(r["conv_id"], r["cluster_id"]) for r in df.select("conv_id", "cluster_id").collect()}
        for route, df in routes.items()
    }
    a = got["ngram"]
    for route in ("lsh", "pipeline"):
        b = got[route]
        assert a == b, (
            f"routes diverge: {len(a - b)} ngram-only, {len(b - a)} {route}-only "
            f"of {len(a)}/{len(b)} rows"
        )


def _cache_entries(spark) -> set:
    """Identities of the entries in the session's CacheManager (a private
    field, read by reflection: no public API lists them)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    entries = field.get(cm)
    return {spark._jvm.System.identityHashCode(entries.apply(i)) for i in range(entries.size())}


def test_cascade_callers_release_cache(spark, tmp_path):
    """Every caller of the batch cascade, and every query that pipelines
    the bucket-pair expansion through ``release``, leaves the session cache
    as it found it: after each call the CacheManager holds no entry it did
    not hold before (the release contract — a driver session runs dozens
    of queries in one JVM)."""
    from cpdd_spark.pipeline import DedupPipeline

    callers = {
        "DedupPipeline.run": lambda: DedupPipeline(spark, str(tmp_path / "work")).run(
            entry_mod.derived_transcripts(spark, SF_DIR)
        ),
        "clusters_lsh": lambda: entry_mod.q_clusters_lsh(spark, SF_DIR),
        "minhash_pairs_lsh": lambda: entry_mod.q_minhash_pairs_lsh(spark, SF_DIR),
        "minhash_pairs": lambda: entry_mod.q_minhash_pairs(spark, SF_DIR),
        "simhash_pairs": lambda: entry_mod.q_simhash_pairs(spark, SF_DIR),
        "embed_dup_pairs": lambda: entry_mod.q_embed_dup_pairs(spark, SF_DIR),
    }
    # the random embeddings plant no near-duplicates: that result is empty
    may_be_empty = {"embed_dup_pairs"}
    for name, call in callers.items():
        before = _cache_entries(spark)
        assert call().count() > 0 or name in may_be_empty, name
        leaked = _cache_entries(spark) - before
        assert not leaked, f"{name} left {len(leaked)} cache entries behind"


def test_assembled_direct_matches_assembly(spark):
    """The direct document construction consumer queries use (r8,
    entry_mod._assembled) must be row-for-row identical to the real P2
    assembly operator over the derived transcripts — same conv_ids, same
    n_turns/doc_len, byte-identical doc strings."""
    from cpdd_spark.assemble import assemble_documents

    direct = entry_mod._assembled(spark, SF_DIR)
    assembled = assemble_documents(entry_mod.derived_transcripts(spark, SF_DIR))
    cols = ["conv_id", "n_turns", "doc_len", "doc"]
    assert direct.columns == assembled.columns == cols
    a = sorted(tuple(r) for r in direct.collect())
    b = sorted(tuple(r) for r in assembled.collect())
    assert a == b
