"""Unit + property tests for the wave-4 training-pipeline operators:
deterministic sampling, mixture weighting, sequence packing, and
large-star/small-star connected components."""

import random

from pyspark.sql import functions as F

from books2scrape_etl_spark.operators.dedupe import (
    connected_components,
    connected_components_star,
)
from books2scrape_etl_spark.operators.packing import (
    _ffd_kernel,
    _next_fit_kernel,
    pack_first_fit_decreasing,
    pack_next_fit,
    pack_stats,
)
from books2scrape_etl_spark.operators.sampling import (
    hash_bucket,
    mixture_sample,
    split_assign,
)

# --- sampling --------------------------------------------------------------


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_split_assign_deterministic_and_complete(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    a = {r.doc_id: (r.bucket, r.split) for r in split_assign(docs, "doc_id").collect()}
    b = {
        r.doc_id: (r.bucket, r.split)
        for r in split_assign(docs.repartition(13), "doc_id").collect()
    }
    assert a == b  # partitioning-independent, run-independent
    assert len(a) == docs.count()
    assert all(0 <= bucket < 1000 for bucket, _ in a.values())
    assert {s for _, s in a.values()} <= {"train", "val", "test"}
    n = len(a)
    n_train = sum(1 for _, s in a.values() if s == "train")
    assert 0.8 * n <= n_train <= 0.97 * n  # ~90% with small-sample slack


def test_split_assign_stable_under_corpus_growth(spark):
    # Adding documents never moves an existing one between splits.
    small = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in split_assign(small, "doc_id").collect()}
    b = {r.doc_id: r.split for r in split_assign(big, "doc_id").collect()}
    assert all(b[k] == v for k, v in a.items())


def test_mixture_sample_copy_counts(spark):
    df = spark.createDataFrame(
        [(i, "up") for i in range(200)]
        + [(1000 + i, "keep") for i in range(200)]
        + [(2000 + i, "down") for i in range(200)],
        "doc_id long, source string",
    )
    out = mixture_sample(
        df, "source", "doc_id", {"up": 2.5, "keep": 1.0, "down": 0.5}
    ).collect()
    per_doc: dict[int, int] = {}
    for r in out:
        per_doc[r.doc_id] = max(per_doc.get(r.doc_id, 0), r.epoch)
        assert r.epoch >= 1
    ups = [per_doc.get(i, 0) for i in range(200)]
    keeps = [per_doc.get(1000 + i, 0) for i in range(200)]
    downs = [per_doc.get(2000 + i, 0) for i in range(200)]
    assert set(ups) == {2, 3}  # 2 full epochs + pinned fractional subset
    assert 0.3 < sum(u == 3 for u in ups) / 200 < 0.7  # ~50% take epoch 3
    assert set(keeps) == {1}
    assert set(downs) <= {0, 1} and 0.3 < sum(downs) / 200 < 0.7
    # epochs are contiguous 1..n per doc
    n_rows = sum(per_doc.values())
    assert len(out) == n_rows


def test_hash_bucket_matches_duckdb(spark):
    import duckdb

    ids = list(range(50))
    got = {
        r.doc_id: r.b
        for r in spark.createDataFrame([(i,) for i in ids], "doc_id long")
        .select("doc_id", hash_bucket("doc_id").alias("b"))
        .collect()
    }
    want = {
        i: duckdb.sql(
            f"SELECT CAST(('0x' || substr(md5('{i}'), 1, 8)) AS BIGINT) % 1000"
        ).fetchone()[0]
        for i in ids
    }
    assert got == want


# --- packing ---------------------------------------------------------------


def _check_packing(rows, max_size, sizes_by_id):
    # every doc exactly once
    seen = [r.doc_id for r in rows]
    assert sorted(seen) == sorted(sizes_by_id)
    # capacity respected except singleton-oversize packs
    packs: dict[tuple, list] = {}
    for r in rows:
        packs.setdefault((r.lang, r.pack_id), []).append(sizes_by_id[r.doc_id])
    for members in packs.values():
        if len(members) > 1:
            assert sum(members) <= max_size
    return packs


def test_pack_next_fit_invariants(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    sizes = {r.doc_id: r.n_chars for r in docs.select("doc_id", "n_chars").collect()}
    rows = pack_next_fit(docs, "lang", "doc_id", "n_chars", 2048).collect()
    packs = _check_packing(rows, 2048, sizes)
    # pack ids contiguous from 1 per lang
    by_lang: dict[str, set] = {}
    for (lang, pid), _ in packs.items():
        by_lang.setdefault(lang, set()).add(pid)
    for pids in by_lang.values():
        assert pids == set(range(1, len(pids) + 1))


def test_pack_ffd_tighter_than_next_fit(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    sizes = {r.doc_id: r.n_chars for r in docs.select("doc_id", "n_chars").collect()}
    ffd = pack_first_fit_decreasing(docs, "lang", "doc_id", "n_chars", 2048)
    _check_packing(ffd.collect(), 2048, sizes)
    nf_packs = (
        pack_stats(pack_next_fit(docs, "lang", "doc_id", "n_chars", 2048), "lang", "n_chars", 2048)
        .agg(F.sum("n_packs"))
        .collect()[0][0]
    )
    ffd_packs = pack_stats(ffd, "lang", "n_chars", 2048).agg(F.sum("n_packs")).collect()[0][0]
    assert ffd_packs <= nf_packs


def test_pack_ffd_kernel_proven_bin_bounds():
    """The data-independent bounds the pack_ffd invariant oracle pins:
    LB = n_over + ceil(sum_non/cap) <= n_packs <= n_over +
    floor(2*sum_non/cap) + 1 (any-fit: two non-oversize packs can't
    both end <= half full). Checked on randomized instances so the
    in-plan law never rests on one corpus's size distribution."""
    import numpy as np

    from books2scrape_etl_spark.operators.packing import _ffd_kernel

    rng = np.random.default_rng(7)
    for cap in (64, 1000, 2048):
        for _ in range(50):
            n = int(rng.integers(1, 200))
            sizes = rng.integers(0, int(cap * 1.5), size=n).astype(np.int64)
            packs = _ffd_kernel(sizes, cap)
            n_packs = len(set(packs))
            over = sizes > cap
            n_over = int(over.sum())
            sum_non = int(sizes[~over].sum())
            lb = n_over + -(-sum_non // cap)
            ub = n_over + (2 * sum_non) // cap + 1
            assert lb <= n_packs <= ub, (cap, sizes.tolist(), n_packs, lb, ub)
            # oversize docs really are singletons (the exemption the
            # capacity check relies on)
            for p in set(packs[over]):
                assert int((packs == p).sum()) == 1


def test_pack_kernels_oversize_and_determinism():
    import numpy as np

    sizes = np.array([3000, 100, 2048, 5, 2044], dtype=np.int64)
    nf = _next_fit_kernel(sizes, 2048)
    assert nf[0] == 1  # oversize doc -> singleton pack, never dropped
    assert list(nf) == list(_next_fit_kernel(sizes, 2048))
    ffd = _ffd_kernel(sizes, 2048)
    assert list(ffd) == list(_ffd_kernel(sizes, 2048))
    # FFD pairs 100+5+... : capacity respected for multi-member packs
    for p in set(ffd):
        members = sizes[ffd == p]
        if len(members) > 1:
            assert members.sum() <= 2048


# --- connected components (star) -------------------------------------------


def _union_find(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_cc_star_long_chain(spark):
    # A 60-node chain: diameter 60, but star contraction needs O(log) rounds.
    edges = [(i, i + 1) for i in range(59)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.doc_id: r.component for r in connected_components_star(pairs, max_iter=12).collect()}
    assert got == {i: 0 for i in range(60)}


def test_cc_star_matches_union_find_random(spark):
    rng = random.Random(7)
    nodes = list(range(120))
    edges = [
        (min(a, b), max(a, b))
        for a, b in (
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(90)
        )
        if a != b
    ]
    want = _union_find(edges)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.doc_id: r.component for r in connected_components_star(pairs).collect()}
    assert got == want


def test_cc_star_agrees_with_propagation(spark):
    rng = random.Random(11)
    edges = [
        (rng.randrange(60), rng.randrange(60)) for _ in range(40)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    star = {r.doc_id: r.component for r in connected_components_star(pairs).collect()}
    prop = {r.doc_id: r.component for r in connected_components(pairs).collect()}
    assert star == prop


def test_stratified_sample_quota_and_determinism(spark, sf_dir):
    from books2scrape_etl_spark.operators.sampling import stratified_sample

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    out = stratified_sample(docs, ["lang", "source"], "doc_id", 5).collect()
    per: dict[tuple, list] = {}
    for r in out:
        per.setdefault((r.lang, r.source), []).append((r.rn, r.doc_id))
    sizes = {
        (r.lang, r.source): r.n
        for r in docs.groupBy("lang", "source").count().withColumnRenamed("count", "n").collect()
    }
    for stratum, rows in per.items():
        assert len(rows) == min(5, sizes[stratum])  # full quota where possible
        assert sorted(rn for rn, _ in rows) == list(range(1, len(rows) + 1))
    # repartitioning must not change the chosen subset
    again = stratified_sample(docs.repartition(13), ["lang", "source"], "doc_id", 5).collect()
    assert {(r.lang, r.source, r.doc_id) for r in again} == {
        (r.lang, r.source, r.doc_id) for r in out
    }


# --- batch inference (embedding generation) --------------------------------


def test_embed_generate_matches_numpy_reference(spark):
    import numpy as np

    from books2scrape_etl_spark.operators.inference import (
        _featurize,
        _projection,
        embed_generate,
    )

    rows = [(1, "alpha beta beta gamma"), (2, "delta"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from books2scrape_etl_spark.operators.inference import _forward

    got = {r.doc_id: np.array(r.embedding) for r in embed_generate(df).collect()}
    w = _projection(1024, 16, 42)
    feats = _featurize([t for _, t in rows], 1024)
    emb = _forward(feats, w)
    norms = np.linalg.norm(emb, axis=1, keepdims=True)
    norms[norms == 0] = 1
    want = emb / norms
    for i, (doc_id, _) in enumerate(rows):
        assert np.allclose(got[doc_id], want[i], atol=1e-6)
    assert np.allclose(np.linalg.norm(got[1]), 1.0)
    assert np.allclose(got[3], 0.0)  # empty doc -> zero vector, not NaN


def test_embed_generate_partitioning_invariant(spark, sf_dir):
    import numpy as np

    from books2scrape_etl_spark.operators.inference import embed_generate

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    a = {r.doc_id: tuple(r.embedding) for r in embed_generate(docs).collect()}
    b = {
        r.doc_id: tuple(r.embedding)
        for r in embed_generate(docs.repartition(17)).collect()
    }
    assert a == b
    norms = np.array([np.linalg.norm(v) for v in a.values()])
    assert np.allclose(norms[norms > 0], 1.0, atol=1e-6)


class TestWeightedSample:
    def test_weight_bounds(self, spark):
        from books2scrape_etl_spark.operators.sampling import weighted_sample
        from pyspark.sql import Row

        df = spark.createDataFrame([Row(doc_id=i) for i in range(500)])
        none = weighted_sample(df, F.lit(0.0), "doc_id")
        assert none.count() == 0
        everything = weighted_sample(df, F.lit(1.0), "doc_id")
        assert everything.count() == 500
        # weights outside [0,1] clamp rather than corrupt the threshold
        clamped = weighted_sample(df, F.lit(7.0), "doc_id")
        assert clamped.count() == 500

    def test_fraction_tracks_weight_and_is_stable(self, spark):
        from books2scrape_etl_spark.operators.sampling import weighted_sample
        from pyspark.sql import Row

        df = spark.createDataFrame([Row(doc_id=i) for i in range(2000)])
        kept1 = {r.doc_id for r in weighted_sample(df, F.lit(0.3), "doc_id").collect()}
        kept2 = {r.doc_id for r in weighted_sample(df, F.lit(0.3), "doc_id").collect()}
        assert kept1 == kept2  # deterministic: same survivors every run
        assert 0.25 <= len(kept1) / 2000 <= 0.35  # tracks the weight
        # monotone in weight: raising the weight only ADDS survivors
        kept_more = {
            r.doc_id for r in weighted_sample(df, F.lit(0.6), "doc_id").collect()
        }
        assert kept1 <= kept_more


class TestStratifiedThreshold:
    def test_deterministic_and_tracks_quota(self, spark):
        from books2scrape_etl_spark.operators.sampling import (
            stratified_sample_threshold,
        )
        from pyspark.sql import Row

        df = spark.createDataFrame(
            [Row(doc_id=i, g="hot" if i < 1800 else "cold") for i in range(2000)]
        )
        kept1 = {
            r.doc_id
            for r in stratified_sample_threshold(df, ["g"], "doc_id", 50).collect()
        }
        kept2 = {
            r.doc_id
            for r in stratified_sample_threshold(df, ["g"], "doc_id", 50).collect()
        }
        assert kept1 == kept2  # same survivors every run
        rows = stratified_sample_threshold(df, ["g"], "doc_id", 50).collect()
        by_g = {}
        for r in rows:
            by_g.setdefault(r.g, 0)
            by_g[r.g] += 1
        # expected 50 per stratum; binomial spread allowed
        assert 25 <= by_g["hot"] <= 80
        # cold stratum (200 rows, quota 50): frac = 0.25 applied
        assert 30 <= by_g["cold"] <= 75

    def test_small_stratum_keeps_everything(self, spark):
        from books2scrape_etl_spark.operators.sampling import (
            stratified_sample_threshold,
        )
        from pyspark.sql import Row

        df = spark.createDataFrame([Row(doc_id=i, g="tiny") for i in range(10)])
        rows = stratified_sample_threshold(df, ["g"], "doc_id", 20).collect()
        assert len(rows) == 10  # quota >= count -> frac clamps to 1.0
        assert all(r._frac == 1.0 for r in rows)

    def test_no_window_in_plan(self, spark):
        from books2scrape_etl_spark.operators.sampling import (
            stratified_sample_threshold,
        )
        from pyspark.sql import Row

        df = spark.createDataFrame([Row(doc_id=i, g=str(i % 3)) for i in range(300)])
        plan = stratified_sample_threshold(df, ["g"], "doc_id", 10)._jdf.queryExecution().toString()
        assert "Window" not in plan  # the whole point of the threshold form


def test_zorder_layout_bounds_worst_case_probe(spark):
    """The point of the Morton key: min-max data skipping. On a
    single-column (x) sorted layout, a probe on the OTHER dimension
    touches every partition (each spans the full y range); z-order
    bounds the worst single-dimension probe at roughly sqrt of the
    partition count on both dimensions. Measured as partitions whose
    [min, max] box contains the probe value — exactly the file-skipping
    decision parquet min-max stats drive. (Bounding-box VOLUME is the
    wrong metric: on uniformly-filling data the summed volume equals
    the grid for any layout.)"""
    from books2scrape_etl_spark.query_defs11 import morton_col

    # deterministic full 256x256 grid
    g = spark.range(256 * 256).select(
        (F.col("id") % 256).cast("long").alias("x"),
        (F.col("id") / 256).cast("long").alias("y"),
    )
    k = g.withColumn("zval", morton_col(F.col("x"), F.col("y")))

    # exact equal-width range buckets (repartitionByRange SAMPLES its
    # boundaries, smearing boxes across quadrant edges): 8 files along
    # the sort key, the OPTIMIZE ZORDER write pattern
    def boxes(df, key, key_max):
        return (
            df.withColumn("pid", (F.col(key) * 8 / (key_max + 1)).cast("int"))
            .groupBy("pid")
            .agg(
                F.min("x").alias("x0"), F.max("x").alias("x1"),
                F.min("y").alias("y0"), F.max("y").alias("y1"),
            )
            .collect()
        )

    def touched(bs, dim, v):
        lo, hi = (("x0", "x1") if dim == "x" else ("y0", "y1"))
        return sum(1 for b in bs if b[lo] <= v <= b[hi])

    bz = boxes(k, "zval", 256 * 256 - 1)
    bx = boxes(k, "x", 255)
    worst_z = max(touched(bz, "x", 131), touched(bz, "y", 131))
    worst_x = max(touched(bx, "x", 131), touched(bx, "y", 131))
    assert worst_x == 8  # x-sorted: y probes touch everything
    assert worst_z <= 4, [tuple(b) for b in bz]  # z: both dims bounded


def test_morton_key_roundtrip_bits():
    """zval interleaves bits exactly: de-interleaving recovers (x, y)
    for the corner and mid-range values."""
    from books2scrape_etl_spark.query_defs11 import _Z_BITS

    def morton_py(x, y):
        z = 0
        for i in range(_Z_BITS):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    from books2scrape_etl_spark.query_defs11 import morton_col
    from pyspark.sql import Row

    vals = [(0, 0), (1023, 1023), (1, 0), (0, 1), (513, 274), (999, 2)]
    # spark evaluation must agree with the reference python interleave
    import books2scrape_etl_spark.session as sess

    spark = sess.get_spark()
    df = spark.createDataFrame([Row(x=x, y=y) for x, y in vals])
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", morton_col(F.col("x"), F.col("y")).alias("z")).collect()
    }
    for x, y in vals:
        assert got[(x, y)] == morton_py(x, y), (x, y)


def test_ewma_weights_and_window_edge(spark, tmp_path):
    """ewma_num over a single-user stream: with fewer events than the
    window, the weight prefix is truncated newest-first (weight 1.0 on
    the current row); hand-computed oracle on 3 events."""
    from books2scrape_etl_spark.queries import QUERIES
    import os
    from pyspark.sql import Row
    import datetime as dt

    d = str(tmp_path)
    rows = [
        Row(event_id=i, ts=dt.datetime(2024, 1, 1, 0, 0, i), user_id=1,
            event_type="click", value=float(v), props="{}")
        for i, v in enumerate([2.0, 4.0, 8.0])
    ]
    spark.createDataFrame(rows).write.parquet(os.path.join(d, "events.parquet"))
    out = {r["event_id"]: r["ewma_num"] for r in QUERIES["ewma_decay"](spark, d).collect()}
    a = 0.9
    assert out[0] == 2.0
    assert out[1] == 4.0 * 1.0 + 2.0 * a
    assert out[2] == 8.0 * 1.0 + 4.0 * a + 2.0 * (a * a)


def test_snapshot_cdc_classification(spark, sf_dir):
    """Every change row classifies consistently: D rows have no new
    values, I rows no old values, U rows differ in at least one field."""
    from books2scrape_etl_spark.queries import QUERIES

    cdc = QUERIES["snapshot_cdc"](spark, sf_dir)
    bad_d = cdc.where((F.col("change_type") == "D") & F.col("new_totalprice").isNotNull())
    bad_i = cdc.where((F.col("change_type") == "I") & F.col("old_totalprice").isNotNull())
    bad_u = cdc.where(
        (F.col("change_type") == "U")
        & (F.col("old_totalprice") == F.col("new_totalprice"))
        & (F.col("old_status") == F.col("new_status"))
    )
    assert bad_d.count() == 0 and bad_i.count() == 0 and bad_u.count() == 0
    kinds = {r["change_type"] for r in cdc.select("change_type").distinct().collect()}
    assert kinds == {"I", "U", "D"}


def test_tokenize_ids_position_order(spark, tmp_path):
    """id sequences preserve token POSITION order (not alphabetical or
    hash order), and OOV maps to 0: crafted 2-doc corpus where the
    frequency ranking and positions disagree everywhere."""
    import os
    from pyspark.sql import Row

    from books2scrape_etl_spark.queries import QUERIES

    d = str(tmp_path)
    rows = [
        Row(doc_id=0, text="bb aa bb cc bb aa", lang="en", source="t", n_chars=17),
        Row(doc_id=1, text="aa zz bb", lang="en", source="t", n_chars=8),
    ]
    spark.createDataFrame(rows).write.parquet(os.path.join(d, "documents.parquet"))
    out = {r["doc_id"]: r for r in QUERIES["tokenize_ids"](spark, d).collect()}
    # counts: bb=4 -> id 1, aa=3 -> id 2, cc=1 -> id 3, zz=1 -> id 4
    # (count desc, token asc tiebreak: cc before zz)
    assert out[0]["ids_str"] == "1,2,1,3,1,2"
    assert out[1]["ids_str"] == "2,4,1"
    assert out[0]["n_unk"] == 0 and out[0]["n_tokens"] == 6


def test_pagerank_matches_numpy_reference(spark):
    """10 synchronous rounds on a random directed graph must land
    within 1e-9 L1 of a NumPy replay of the same recurrence (teleport
    + dangling redistribution)."""
    import numpy as np

    from books2scrape_etl_spark.operators.graph import pagerank

    rng = random.Random(3)
    n, edges = 30, []
    for _ in range(80):
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.append((a, b))
    edges = sorted(set(edges))
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["pr"] for r in pagerank(df, iterations=10).collect()}

    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    m = len(nodes)
    out_deg = np.zeros(m)
    for a, _ in edges:
        out_deg[idx[a]] += 1
    pr = np.full(m, 1.0 / m)
    d = 0.85
    for _ in range(10):
        new = np.zeros(m)
        for a, b in edges:
            new[idx[b]] += pr[idx[a]] / out_deg[idx[a]]
        dangling = pr[out_deg == 0].sum()
        pr = (1 - d) / m + d * dangling / m + d * new
    l1 = sum(abs(got[v] - pr[idx[v]]) for v in nodes)
    assert l1 < 1e-9, l1
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_empty_and_chain(spark):
    from books2scrape_etl_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty, iterations=3).count() == 0
    # 3-chain: rank strictly increases downstream
    chain = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    got = {r["node"]: r["pr"] for r in pagerank(chain, iterations=20).collect()}
    assert got[0] < got[1] < got[2]


def test_als_recovers_low_rank_structure(spark):
    """ALS on an exactly rank-1 rating matrix (r_ij = u_i * v_j) must
    reconstruct it almost perfectly — train RMSE << rating scale —
    and the invariant margin (model MSE < variance) must be wide."""
    from pyspark.sql import Row

    from books2scrape_etl_spark.operators.recommend import als_fit_predict

    u = [1.0, 2.0, 3.0, 4.0, 5.0, 1.5, 2.5, 3.5]
    v = [1.0, 0.5, 2.0, 1.5, 0.8, 1.2]
    rows = [
        Row(user=i, item=j, rating=float(u[i] * v[j]))
        for i in range(len(u))
        for j in range(len(v))
    ]
    ratings = spark.createDataFrame(rows)
    pred = als_fit_predict(ratings, rank=2, max_iter=15, reg=0.001)
    stats = pred.agg(
        F.avg((F.col("prediction") - F.col("rating")) ** 2).alias("mse"),
        F.variance("rating").alias("var"),
    ).collect()[0]
    assert stats["mse"] < 0.01, stats
    assert stats["mse"] < stats["var"] * 0.05
