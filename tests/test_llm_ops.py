"""LLM-pipeline operators: oracle-checked entries vs DuckDB; hash-based
entries (minhash/simhash/IVF) vs exact ground truth."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL, compare_frames, register_duck_views

from real_time_fraud_detection_lakehouse_spark.core.catalog import TESTDATA_TABLES, table
from real_time_fraud_detection_lakehouse_spark.operators import LLM_OPS
from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
    minhash_lsh_candidates,
    simhash_signatures,
)
from real_time_fraud_detection_lakehouse_spark.operators.similarity import (
    TOP_K,
    cosine_topk,
    ivf_topk,
)

ORACLE_OPS = {k: v for k, v in LLM_OPS.items() if v[1] is not None}
ROWS_ONLY_OPS = {k: v for k, v in LLM_OPS.items() if v[1] is None}


@pytest.fixture(scope="module")
def frames(spark):
    return {name: table(spark, SF_SMALL, name) for name in TESTDATA_TABLES}


@pytest.mark.parametrize("name", sorted(ORACLE_OPS))
def test_llm_op_matches_oracle(name, spark, duck, frames):
    register_duck_views(duck, SF_SMALL)
    builder, oracle = LLM_OPS[name]
    compare_frames(builder(frames), duck.sql(oracle))


@pytest.mark.parametrize("name", sorted(ROWS_ONLY_OPS))
def test_llm_op_runs(name, spark, frames):
    builder, _ = LLM_OPS[name]
    df = builder(frames)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_ivf_dedup_subset_of_bruteforce(spark, frames):
    """The IVF-blocked twin returns a subset of the exact baseline
    (identical scoring + threshold; only candidates are blocked). At
    the registered tail threshold (0.35 ≈ 99.9th pct of *random*-pair
    cosine — the corpus holds no true near-dups, max pair cosine 0.48)
    sign-blocking intentionally discards weakly-similar pairs, so we
    pin only a regression floor here (~0.29 measured at 6 blocking
    bits; theory for cosine 0.35: P(agree)/dim ≈ 1-θ/π ≈ 0.61, so
    P(Hamming≤1 over 6 dims) ≈ 0.25); the ≥0.95 recall contract for
    real near-dups is proved on planted duplicates below."""
    from real_time_fraud_detection_lakehouse_spark.operators.similarity import (
        dedup_embedding_cosine,
        dedup_embedding_cosine_ivf,
    )

    exact = {
        (r["vec_a"], r["vec_b"]) for r in dedup_embedding_cosine(frames).collect()
    }
    ivf = {
        (r["vec_a"], r["vec_b"])
        for r in dedup_embedding_cosine_ivf(frames).collect()
    }
    assert exact, "baseline found no near-dup pairs — threshold drifted?"
    assert ivf <= exact
    assert len(ivf & exact) / len(exact) >= 0.25


def test_ivf_dedup_recall_on_planted_near_dups(spark, frames):
    """Plant perturbed twins (cosine ≈0.98 to their originals) and
    verify the IVF-blocked variant recovers ≥0.95 of the exact
    baseline's near-dup pairs at a true near-dup threshold (0.9) —
    a perturbation flips a probed sign bit only where a dimension sits
    near 0, so home+Hamming-1 probing covers almost all true pairs."""
    from real_time_fraud_detection_lakehouse_spark.operators.similarity import (
        embedding_cosine_pairs,
    )
    from pyspark.sql import functions as F

    emb = frames["embeddings"].select("vec_id", "embedding")
    sq = F.transform("embedding", lambda x: x.cast("double") * x.cast("double"))
    avg_norm = emb.select(
        F.avg(F.sqrt(F.aggregate(sq, F.lit(0.0), lambda a, b: a + b)))
    ).first()[0]
    amp = 0.2 * avg_norm / 8  # 64 dims → per-dim sd ≈ norm/8; 0.2σ noise
    twins = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + amp * F.sin((F.col("vec_id") * 7 + i).cast("double")),
        ).alias("embedding"),
    )
    corpus = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    ).unionByName(twins)
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_cosine_pairs(corpus, threshold=0.9, ivf=False).collect()
    }
    approx = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_cosine_pairs(corpus, threshold=0.9, ivf=True).collect()
    }
    n_twins = twins.count()
    assert len(exact) >= 0.9 * n_twins, "perturbation too strong — plants not near-dups"
    assert approx <= exact
    assert len(approx & exact) / len(exact) >= 0.95


def test_token_budget_report_equals_groupby_over_packing(spark, frames):
    """r17 (r16 verdict #7): docs_token_budget_report no longer
    executes the packing plan — it aggregates the survivor set once
    and fans the row out per epoch, which is equal to grouping
    corpus_to_batches output by epoch ONLY while packing emits exactly
    one row per (survivor, epoch) with n_tokens riding through. Guard
    that invariant here so a future packing change fails in tests, not
    at the driver."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        corpus_to_batches,
        docs_token_budget_report,
    )
    from real_time_fraud_detection_lakehouse_spark.operators.text import SEQ_LEN
    from real_time_fraud_detection_lakehouse_spark.sources.transactions import dround

    packed = corpus_to_batches(frames)
    n_seq = F.floor((F.col("total_tokens") + (SEQ_LEN - 1)) / SEQ_LEN).cast("long")
    via_packing = (
        packed.groupBy("epoch")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .select(
            "epoch",
            "n_docs",
            "total_tokens",
            n_seq.alias("n_sequences"),
            (n_seq * SEQ_LEN - F.col("total_tokens")).cast("int").alias("tail_padding"),
            dround(F.col("total_tokens") * 1.0 / F.col("n_docs")).alias(
                "avg_doc_tokens"
            ),
        )
    )
    report = docs_token_budget_report(frames)
    got = {tuple(r) for r in report.collect()}
    want = {tuple(r) for r in via_packing.collect()}
    assert got == want, "report drifted from groupBy(epoch) over corpus_to_batches"


def test_gram_kernels_block_size_equivalence():
    """r17 (r16 verdict #5): the IVF-bucket and semdedup Arrow kernels
    chunk their Gram matmuls into fixed row blocks to bound per-task
    memory; the output must be BIT-identical at any block size —
    including blocks that split the group mid-pair and the degenerate
    1-row block. Pure-Python pin on the module-level kernel factories
    (no Spark): random vectors + planted exact/near duplicates so the
    threshold and the floor-boundary band both exercise."""
    import numpy as np
    import pandas as pd

    from real_time_fraud_detection_lakehouse_spark.operators.similarity import (
        _ivf_bucket_pairs_kernel,
        _semdedup_find_dups_kernel,
    )

    rng = np.random.default_rng(7)
    n, d = 530, 16
    X = rng.normal(size=(n, d))
    # planted duplicate structure: exact copies (cosine 1.0) and
    # slightly perturbed twins (cosine ≈ 0.99+) across block edges
    for i in range(0, n - 5, 37):
        X[i + 1] = X[i] * 1.7
        X[i + 3] = X[i] + rng.normal(scale=0.02, size=d)
    ids = np.arange(n, dtype=np.int64) * 3 + 1
    pdf = pd.DataFrame({"vec_id": ids, "v": [list(r) for r in X]})

    ref_ivf = _ivf_bucket_pairs_kernel(0.9, block=10**9)(pdf, pdf)
    ref_sem = _semdedup_find_dups_kernel(0.9, block=10**9)(pdf)
    for block in (1, 7, 64, 529, 530):
        got = _ivf_bucket_pairs_kernel(0.9, block=block)(pdf, pdf)
        # per-row equality including the float64 sims, order-insensitive
        assert sorted(map(tuple, got.itertuples(index=False))) == sorted(
            map(tuple, ref_ivf.itertuples(index=False))
        )
        got_sem = _semdedup_find_dups_kernel(0.9, block=block)(pdf)
        assert sorted(got_sem["vec_id"]) == sorted(ref_sem["vec_id"])
    assert len(ref_ivf) > 0 and len(ref_sem) > 0, "plants produced no pairs"


def test_ngram_jaccard_short_docs_no_crash(spark):
    """Docs with <3 tokens get an empty gram set (mirroring DuckDB's
    empty range(1, len-1)) instead of a descending sequence() feeding
    slice() an index-0 runtime error."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        dedup_ngram_jaccard,
    )

    docs = spark.createDataFrame(
        [
            (1, "one two"),
            (2, "one two"),
            (3, "a"),
            (4, "alpha beta gamma delta epsilon"),
            (5, "alpha beta gamma delta zeta"),
        ],
        "doc_id long, text string",
    )
    rows = dedup_ngram_jaccard({"documents": docs}).collect()
    short = {1, 2, 3}
    # pairs where BOTH gram sets are empty are dropped (0/0 carries no
    # signal and would raise under ANSI divide-by-zero)
    assert not [r for r in rows if r["doc_a"] in short and r["doc_b"] in short]
    # the long near-dup pair still surfaces with a real jaccard
    long_pairs = [r for r in rows if r["doc_a"] == 4 and r["doc_b"] == 5]
    assert long_pairs and long_pairs[0]["jaccard"] > 0


def test_minhash_estimates_jaccard(spark):
    """MinHash estimate tracks exact Jaccard on planted near-dups."""
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base),  # exact dup → jaccard 1
            (2, base.replace("lazy", "sleepy")),  # near dup
            (3, "completely different words about spark query engines and shuffles everywhere now ok"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_lsh_candidates(docs, k=64, bands=16).collect()
    }
    assert got[(0, 1)] == 1.0
    assert got.get((0, 2), 0) > 0.3
    assert got.get((0, 3)) is None or got[(0, 3)] < 0.2


def test_simhash_near_dup_small_hamming(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base.replace("lazy", "sleepy")),
            (2, "completely different words about spark query engines and shuffles everywhere now ok"),
        ],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(sigs[0], sigs[1]) < hamming(sigs[0], sigs[2])
    assert hamming(sigs[0], sigs[1]) <= 12


def test_simhash_candidates_find_planted_dup(spark):
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import simhash_candidates

    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base.replace("lazy", "sleepy")),
            (2, "completely different words about spark query engines and shuffles everywhere now ok"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_candidates(docs).collect()}
    assert (0, 1) in pairs  # near-dup found
    assert pairs[(0, 1)] <= 12
    assert (0, 2) not in pairs or pairs[(0, 2)] > pairs[(0, 1)]


def test_brp_lsh_recall_vs_bruteforce(spark, frames):
    from real_time_fraud_detection_lakehouse_spark.operators.similarity import (
        brp_lsh_neighbors,
    )

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(frames["embeddings"]).collect()
    }
    found = {
        (r["query_id"], r["neighbor_id"])
        for r in brp_lsh_neighbors(frames["embeddings"]).collect()
    }
    recall = len(exact & found) / len(exact)
    assert recall > 0.7, recall  # 0.98 at sf0.01; margin for small sf


def test_ivf_recall_vs_bruteforce(spark, frames):
    """IVF (1-bucket probe) keeps reasonable recall vs brute force."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(frames["embeddings"]).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(frames["embeddings"]).collect()
    }
    queries = {q for q, _ in exact}
    recall = len(exact & approx) / len(exact)
    assert len(queries) > 0
    # multi-probe IVF examines ~31% of candidates; on random
    # embeddings recall should comfortably beat that baseline
    assert recall > 0.3, recall


def test_baseline_quarantine_registry():
    """Every quarantined baseline and its scale twin are registered,
    and the quarantine is marked in both the registry map and the
    baseline's own docstring."""
    from real_time_fraud_detection_lakehouse_spark.operators import BASELINE_ONLY, LLM_OPS

    for baseline, twin in BASELINE_ONLY.items():
        assert baseline in LLM_OPS and twin in LLM_OPS
        assert "BASELINE-ONLY" in (LLM_OPS[baseline][0].__doc__ or "")


def test_connected_components_transitive_chain(spark):
    """A-B-C-D chain collapses to one component labeled by its min
    node even though A and D share no edge; disjoint pair keeps its
    own label; convergence needs diameter rounds, not size rounds."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (100, 200)], ["src", "dst"]
    )
    got = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert got == {10: 10, 20: 10, 30: 10, 40: 10, 100: 100, 200: 100}


def test_connected_components_high_diameter():
    """Propagation with pointer jumping resolves a planted
    high-diameter path graph (diameter 120 — label propagation
    without jumping would need 120 rounds, with jumping ~7) plus a
    disjoint triangle to the min-labeled components, well inside the
    default round budget."""
    from real_time_fraud_detection_lakehouse_spark.core.session import get_spark
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        connected_components,
    )

    spark = get_spark("test")
    # path 0-1-...-120 with shuffled edge order + a disjoint triangle
    chain = [(i, i + 1) for i in range(120)]
    chain = chain[::3] + chain[1::3] + chain[2::3]
    edges = spark.createDataFrame(
        chain + [(500, 501), (501, 502), (502, 500)], ["src", "dst"]
    )
    want = {i: 0 for i in range(121)} | {500: 500, 501: 500, 502: 500}
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == want


def test_connected_components_raises_when_unconverged(spark):
    """Labels still changing at ``max_iter`` are an error, not a
    silently truncated answer: a 20-link chain needs more than two
    propagation rounds."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame([(i, i + 1) for i in range(20)], "src int, dst int")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)


def test_connected_components_contracted_equals_propagation(spark):
    """r16: the contraction pre-pass variant (one star round, CC over
    the contracted graph, labels composed back — the d2 ORACLE's trick
    on the Spark side) returns the identical (node, component) map as
    plain propagation on chains, cliques, disjoint pieces and seeded
    random graphs — including the star-internal case where a whole
    component collapses into one star (no contracted edge: the
    COALESCE branch)."""
    import random

    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        connected_components,
        connected_components_contracted,
    )

    graphs = [
        [(10, 20), (20, 30), (30, 40), (100, 200)],  # chain + pair
        [(1, 2), (1, 3), (2, 3)],  # one star-collapsed clique
        [(i, i + 1) for i in range(15)],  # longer chain
    ]
    for seed in (0, 1):
        rng = random.Random(seed)
        graphs.append(
            [(rng.randrange(30), rng.randrange(30)) for _ in range(40)]
        )
    for g in graphs:
        edges = spark.createDataFrame(
            [(a, b) for a, b in g if a != b], ["src", "dst"]
        )
        plain = {
            r["node"]: r["component"]
            for r in connected_components(edges).collect()
        }
        contracted = {
            r["node"]: r["component"]
            for r in connected_components_contracted(edges).collect()
        }
        assert contracted == plain, g


def test_text_chunks_overlap_invariant(spark):
    """Consecutive chunks of a long doc overlap by chunk-stride tokens
    and reconstruct the original token sequence."""
    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        text_chunks,
    )

    words = " ".join(f"w{i}" for i in range(150))
    docs = spark.createDataFrame([(1, words)], ["doc_id", "text"])
    rows = sorted(
        text_chunks({"documents": docs}).collect(), key=lambda r: r["chunk_index"]
    )
    assert len(rows) == 3  # ceil((150-64)/48)+1
    assert [r["chunk_tokens"] for r in rows] == [64, 64, 150 - 2 * CHUNK_STRIDE]
    toks = [r["chunk_text"].split(" ") for r in rows]
    for a, b in zip(toks, toks[1:]):
        assert a[CHUNK_STRIDE:] == b[: CHUNK_TOKENS - CHUNK_STRIDE]  # overlap
    # stitching non-overlapping prefixes reconstructs the doc
    stitched = toks[0] + [w for c in toks[1:] for w in c[CHUNK_TOKENS - CHUNK_STRIDE:]]
    assert stitched == words.split(" ")


def test_per_source_cap_plan_and_invariants(spark, frames):
    """Cap respected per group, and the rn<=K filter runs as a
    map-side WindowGroupLimit (no full window materialization)."""
    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        SOURCE_CAP,
        docs_per_source_cap,
    )

    df = docs_per_source_cap(frames)
    sizes = df.groupBy("source").count().collect()
    assert sizes and all(r["count"] <= SOURCE_CAP for r in sizes)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_lsh_clusters_agree_with_exact_clusters(spark, frames):
    """The LSH-candidate cluster pipeline recovers the exact-pair
    clusters: every exact cluster's doc set appears in the LSH
    clustering with >=80% pairwise agreement (banding may miss a few
    borderline pairs; it must not hallucinate merges of unrelated
    docs into exact clusters)."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_lsh,
    )

    def comp_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["component_id"], set()).add(r["doc_id"])
        return {frozenset(v) for v in out.values() if len(v) > 1}

    exact = comp_sets(dedup_clusters(frames))
    lsh = comp_sets(dedup_clusters_lsh(frames))
    assert exact  # fixture has planted dup groups
    lsh_docs = {d for c in lsh for d in c}
    # recall: most exact clusters are recovered as a subset of some LSH cluster
    recovered = sum(
        1 for c in exact if any(c <= l for l in lsh) or not (c & lsh_docs)
    )
    assert recovered >= 0.8 * len(exact)


def test_kmeans_planted_blobs_recovered(spark):
    """Three tight blobs, vec_ids interleaved so the deterministic
    min-id seeding lands one centroid per blob: 3 Lloyd iterations
    recover the planted partition with full purity."""
    from real_time_fraud_detection_lakehouse_spark.operators.similarity import kmeans_lloyd

    centers = [(0.0, 0.0, 10.0), (10.0, 0.0, 0.0), (0.0, 10.0, 0.0)]
    pts = []
    for i in range(60):
        blob = i % 3
        x, y, z = centers[blob]
        eps = ((i // 3) % 5 - 2) * 0.05
        pts.append((i, [x + eps, y - eps, z + eps]))
    df = spark.createDataFrame(pts, "vec_id long, v array<double>")

    out = kmeans_lloyd(df, k=3, iters=3).collect()
    assert len(out) == 60
    blob_to_clusters: dict[int, set] = {}
    for r in out:
        blob_to_clusters.setdefault(r["vec_id"] % 3, set()).add(r["cluster_id"])
    # purity: every blob maps to exactly one cluster, all distinct
    assert all(len(s) == 1 for s in blob_to_clusters.values())
    assert len({next(iter(s)) for s in blob_to_clusters.values()}) == 3
    # near-zero inertia on tight blobs
    assert all(r["sq_dist"] < 0.1 for r in out)


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """A cluster that loses every member keeps its previous centroid
    (left-join of new means onto the prior centroid table): with
    duplicate seed vectors, iteration 1 assigns every tied point to
    the lower cluster id (cluster 2 empties), but cluster 2's [0,0]
    centroid survives and recaptures the origin pair in iteration 2.
    Without the fix the final assignment collapses to one cluster."""
    from real_time_fraud_detection_lakehouse_spark.operators.similarity import kmeans_lloyd

    pts = [
        (1, [0.0, 0.0]),
        (2, [0.0, 0.0]),  # duplicate seed → init c1 == c2
        (3, [5.0, 5.0]),
        (4, [5.1, 5.0]),
    ]
    df = spark.createDataFrame(pts, "vec_id long, v array<double>")
    out = {r["vec_id"]: r["cluster_id"] for r in kmeans_lloyd(df, k=2, iters=2).collect()}
    assert len(out) == 4
    assert len(set(out.values())) == 2  # both clusters still exist
    assert out[1] == out[2] and out[3] == out[4] and out[1] != out[3]


def test_kmeans_rejects_zero_iters(spark):
    import pytest

    from real_time_fraud_detection_lakehouse_spark.operators.similarity import kmeans_lloyd

    df = spark.createDataFrame([(1, [0.0])], "vec_id long, v array<double>")
    with pytest.raises(ValueError, match="iters"):
        kmeans_lloyd(df, k=1, iters=0)


def test_kmeans_deterministic_and_registered(spark, frames):
    from real_time_fraud_detection_lakehouse_spark.operators.similarity import (
        embedding_kmeans,
    )

    a = embedding_kmeans(frames).collect()
    b = embedding_kmeans(frames).collect()
    assert a == b  # hash init + struct-min ties -> fully deterministic
    assert sum(r["n_points"] for r in a) == frames["embeddings"].count()


def test_dedup_apply_consistent_with_clusters(spark, frames):
    """docs_dedup_apply = documents minus non-keepers: row count and
    membership must agree with dedup_clusters' keeper election."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        dedup_clusters,
        docs_dedup_apply,
    )

    clusters = dedup_clusters(frames).collect()
    drops = {r["doc_id"] for r in clusters if not r["is_keeper"]}
    kept = {r["doc_id"] for r in docs_dedup_apply(frames).collect()}
    total = frames["documents"].count()
    assert len(kept) == total - len(drops)
    assert kept.isdisjoint(drops)


def test_minhash_seeds_are_distinct_functions(spark):
    """Regression (round 6): a default-arg transform lambda binds its
    second parameter to the element INDEX in PySpark, which silently
    collapsed all K seeded minhashes into one function (every
    signature entry identical). The K entries of a multi-shingle doc's
    signature must NOT all be equal."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    sig = minhash_signatures(docs, k=16).collect()[0]["signature"]
    assert len(sig) == 16
    assert len(set(sig)) > 1, "all minhash seeds produced the same function"


# --- curation operators (planted-input positive paths) ----------------------
def _docs(spark, rows):
    return {
        "documents": spark.createDataFrame(
            [(i, t, "en", f"src{i % 2}", len(t)) for i, t in enumerate(rows)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    }


def test_strip_boilerplate_planted(spark):
    """An 8-token banner shared by three docs is stripped from each;
    unique content survives; a clean doc passes through; short aligned
    tails do NOT count as boilerplate."""
    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        docs_strip_boilerplate,
    )

    banner = "all rights reserved by the example site inc"  # 8 tokens
    rows = [
        banner + " unique alpha beta gamma delta eps zeta eta",
        banner + " other content words here for doc two xx",
        banner + " third body text goes here in doc three",
        "completely clean document with its own words tail tail",
    ]
    got = {
        r["doc_id"]: r for r in docs_strip_boilerplate(_docs(spark, rows)).collect()
    }
    for i in range(3):
        assert got[i]["n_removed"] == 1, got[i]
        assert banner not in got[i]["clean_text"]
        assert got[i]["n_segments"] == 2
    # docs 0..2 share only the banner; their tails stay
    assert "unique alpha" in got[0]["clean_text"]
    # the clean doc: nothing removed even though its 2-token aligned
    # tail ("tail tail") is well-formed; short segments are exempt
    assert got[3]["n_removed"] == 0
    assert got[3]["clean_text"] == rows[3]


def test_repetition_stats_flags_looping_doc(spark):
    """A looping doc trips the Gopher top-bigram filter; a diverse doc
    does not; ties break on the lexicographically smallest bigram."""
    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        docs_repetition_stats,
    )

    rows = [
        "spam ham " * 40,  # top bigram "spam ham" 40/79
        " ".join(f"w{i}" for i in range(50)),  # all bigrams unique
    ]
    got = {
        r["doc_id"]: r for r in docs_repetition_stats(_docs(spark, rows)).collect()
    }
    assert got[0]["repetitive_flag"] == 1
    assert got[0]["top_bigram"] == "spam ham"  # 40 occurrences vs 39 "ham spam"
    assert got[0]["top_bigram_n"] == 40
    assert abs(got[0]["top_bigram_frac"] - 40 / 79) < 1e-6
    assert got[1]["repetitive_flag"] == 0
    assert got[1]["top_bigram_n"] == 1
    assert got[1]["top_bigram"] == "w0 w1"  # smallest bigram among ties


def test_pii_scrub_planted(spark):
    """Email / IPv4 / phone are counted and replaced with typed
    placeholders; non-PII text is byte-identical."""
    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        docs_pii_scrub,
    )

    rows = [
        "contact bob.smith+x@example.co.uk or 10.0.255.1 or +1 555-867-5309 now",
        "nothing sensitive here at all",
    ]
    got = {r["doc_id"]: r for r in docs_pii_scrub(_docs(spark, rows)).collect()}
    assert (got[0]["n_emails"], got[0]["n_ips"], got[0]["n_phones"]) == (1, 1, 1)
    assert got[0]["scrubbed_text"] == "contact <EMAIL> or <IP> or +1 <PHONE> now"
    assert got[1]["scrubbed_text"] == rows[1]
    assert (got[1]["n_emails"], got[1]["n_ips"], got[1]["n_phones"]) == (0, 0, 0)


def test_mix_weights_temperature(spark):
    """Weights sum to 1 and the sqrt temperature upsamples the small
    source relative to proportional sampling."""
    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        docs_mix_weights,
    )

    small = " ".join(["a"] * 100)
    big = " ".join(["b"] * 400)
    frames = {
        "documents": spark.createDataFrame(
            [(0, small, "en", "rare", 1), (1, big, "en", "huge", 1)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    }
    got = {r["source"]: r for r in docs_mix_weights(frames).collect()}
    total = got["rare"]["mix_weight"] + got["huge"]["mix_weight"]
    assert abs(total - 1.0) < 1e-6
    # sqrt(100)/(sqrt(100)+sqrt(400)) = 1/3 > proportional 1/5
    assert abs(got["rare"]["mix_weight"] - 1 / 3) < 1e-6
    assert got["rare"]["n_tokens"] == 100 and got["huge"]["n_tokens"] == 400
    # epochs: rare domain re-read more often at the fixed budget
    assert got["rare"]["epochs_at_budget"] > got["huge"]["epochs_at_budget"]


def test_epoch_shuffle_deterministic_independent(spark):
    """Same keys on re-run (reproducible); different permutation per
    epoch; every (doc, epoch) key distinct."""
    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        SHUFFLE_EPOCHS,
        docs_epoch_shuffle,
    )

    rows = [f"doc number {i} words" for i in range(20)]
    frames = _docs(spark, rows)
    a = docs_epoch_shuffle(frames).collect()
    b = docs_epoch_shuffle(frames).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 20 * SHUFFLE_EPOCHS
    keys = [r["shuffle_key"] for r in a]
    assert len(set(keys)) == len(keys)
    order = {
        e: [r["doc_id"] for r in sorted(a, key=lambda r: r["shuffle_key"]) if r["epoch"] == e]
        for e in range(SHUFFLE_EPOCHS)
    }
    assert order[0] != order[1], "epoch permutations must differ"


# --- retrieval operators ----------------------------------------------------
def test_bm25_ranking_invariants(spark):
    """More query-term mass → higher score; docs without query terms
    are absent; n_terms_hit counts distinct matched terms."""
    from real_time_fraud_detection_lakehouse_spark.operators.curation import (  # noqa: F401
        CURATION_OPS,
    )
    from real_time_fraud_detection_lakehouse_spark.operators.retrieval import (
        docs_bm25_search,
    )

    rows = [
        "table scan merge table scan merge pad pad pad pad",  # all 3 terms, dense
        "table pad pad pad pad pad pad pad pad pad",  # 1 term once
        "nothing relevant in this document at all pad pad pad",  # no terms
        "table scan pad pad pad pad pad pad pad pad",  # 2 terms
    ]
    got = {r["doc_id"]: r for r in docs_bm25_search(_docs(spark, rows)).collect()}
    assert 2 not in got
    assert got[0]["n_terms_hit"] == 3
    assert got[3]["n_terms_hit"] == 2
    assert got[1]["n_terms_hit"] == 1
    assert got[0]["bm25"] > got[3]["bm25"] > got[1]["bm25"] > 0


def test_pca_recovers_planted_direction(spark):
    """Variance planted along one known axis-pair direction: the top
    principal component aligns with it (|cos| > 0.99) and explains
    most of the variance."""
    import math

    import numpy as np

    from real_time_fraud_detection_lakehouse_spark.operators.retrieval import (
        pca_components,
    )

    dim = 8
    v = np.zeros(dim)
    v[1], v[4] = 3 / 5, 4 / 5  # unit direction
    rng = [math.sin(i * 12.9898) * 43758.5453 % 1.0 for i in range(400)]
    rows = []
    for i in range(200):
        a = (rng[i] - 0.5) * 10.0  # dominant signal
        noise = [(rng[200 + i] - 0.5) * 0.1] * dim
        rows.append((i, [float(a * v[j] + noise[j] * ((j % 3) - 1)) for j in range(dim)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    mu, comps, ev = pca_components(emb, k=2, dim=dim)
    cos = abs(float(np.dot(comps[0], v)))
    assert cos > 0.99, cos
    assert ev[0] > 10 * ev[1]


def test_pca_matches_numpy_twin(spark):
    """Distributed Gram partials reproduce full-data numpy PCA on the
    real embeddings table (mean + eigenvalues to 1e-6)."""
    import numpy as np

    from real_time_fraud_detection_lakehouse_spark.core.catalog import table
    from real_time_fraud_detection_lakehouse_spark.operators.retrieval import (
        pca_components,
    )
    from tests.conftest import SF_SMALL

    emb = table(spark, SF_SMALL, "embeddings")
    mu, comps, ev = pca_components(emb, k=3)
    x = np.asarray(
        [np.asarray(r["embedding"], dtype=np.float64) for r in emb.collect()]
    )
    mu_np = x.mean(axis=0)
    cov = (x.T @ x) / len(x) - np.outer(mu_np, mu_np)
    w = np.sort(np.linalg.eigvalsh(cov))[::-1][:3]
    assert np.allclose(mu, mu_np, atol=1e-6)
    assert np.allclose(ev, w, atol=1e-6)
    # components orthonormal
    assert np.allclose(comps @ comps.T, np.eye(3), atol=1e-8)


def test_pca_projection_variance_ordering(spark, frames):
    """pc1 captures at least as much variance as pc2 in the projected
    output, and every row projects (no drops)."""
    import statistics

    from real_time_fraud_detection_lakehouse_spark.operators.retrieval import (
        embedding_pca_project,
    )

    rows = embedding_pca_project(frames).collect()
    assert len(rows) == frames["embeddings"].count()
    v1 = statistics.pvariance([r["pc1"] for r in rows])
    v2 = statistics.pvariance([r["pc2"] for r in rows])
    assert v1 >= v2 > 0


def test_pq_codes_shape_and_determinism(spark, frames):
    """Every vector encodes to PQ_SUBSPACES codes in [1, PQ_CODEBOOK_K];
    training + encoding are deterministic across runs."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.operators.retrieval import (
        PQ_CODEBOOK_K,
        PQ_SUBSPACES,
        pq_encode,
        pq_train_codebooks,
    )

    emb = frames["embeddings"].select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    cents = pq_train_codebooks(emb, iters=2)
    assert cents.count() == PQ_SUBSPACES * PQ_CODEBOOK_K
    codes = pq_encode(emb, cents).collect()
    assert len(codes) == frames["embeddings"].count()
    for r in codes:
        assert len(r["codes"]) == PQ_SUBSPACES
        assert all(1 <= c <= PQ_CODEBOOK_K for c in r["codes"])
    codes2 = pq_encode(emb, pq_train_codebooks(emb, iters=2)).collect()
    assert sorted(map(tuple, ((r["vec_id"], tuple(r["codes"])) for r in codes))) == sorted(
        map(tuple, ((r["vec_id"], tuple(r["codes"])) for r in codes2))
    )


def test_pq_planted_twin_ranks_first(spark, frames):
    """A planted near-copy of a query vector must be that query's
    PQ rank-1 neighbor: ADC preserves coarse geometry even when
    fine-grained ranking on random data scrambles (PQ's worst case)."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.operators.retrieval import (
        similarity_pq_topk,
    )

    emb = frames["embeddings"].select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.001)).alias("embedding"),
    )
    planted = {"embeddings": emb.unionByName(twins)}
    rows = similarity_pq_topk(planted).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    # every original query's twin (id + 1e6) is its nearest code
    for q, neigh in by_q.items():
        if q >= 1_000_000:
            continue
        rank1 = min(neigh)[1]
        assert rank1 == q + 1_000_000, (q, sorted(neigh))


def test_pq_recall_floor_on_random_data(spark, frames):
    """Regression floor: even on uniform-random embeddings (PQ's
    adversarial case) recall@5 vs exact L2 stays above chance
    (5/500 = 1%); measured 0.28 at 4 train iters."""
    import numpy as np

    from real_time_fraud_detection_lakehouse_spark.operators.retrieval import (
        PQ_TOP_K,
        similarity_pq_topk,
    )

    pq_rows = similarity_pq_topk(frames).collect()
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in frames["embeddings"].collect()
    }
    ids = sorted(vecs)
    x = np.asarray([vecs[i] for i in ids])
    recalls = []
    for q in sorted({r["query_id"] for r in pq_rows}):
        d = ((x - vecs[q]) ** 2).sum(axis=1)
        exact = [ids[j] for j in np.argsort(d) if ids[j] != q][:PQ_TOP_K]
        got = [r["neighbor_id"] for r in pq_rows if r["query_id"] == q]
        recalls.append(len(set(exact) & set(got)) / PQ_TOP_K)
    assert sum(recalls) / len(recalls) >= 0.15


def test_semdedup_planted_replicas_pruned(spark):
    """SemDeDup end-to-end on planted data: three tight blobs with
    exact replicas appended at high vec_ids. Replicas share a cluster
    with their source (cosine ~1), so every replica must be removed
    and every original (lowest id of its group) kept."""
    from real_time_fraud_detection_lakehouse_spark.operators.similarity import semdedup

    centers = [(0.0, 0.0, 10.0), (10.0, 0.0, 0.0), (0.0, 10.0, 0.0)]
    pts = []
    for i in range(30):
        x, y, z = centers[i % 3]
        eps = ((i // 3) % 5 - 2) * 0.03
        pts.append((i, [x + eps, y - eps, z + eps]))
    # replicas of vec_ids 0..5 at ids 100..105 (tiny perturbation)
    for j in range(6):
        v = list(pts[j][1])
        pts.append((100 + j, [c + 1e-4 for c in v]))
    df = spark.createDataFrame(pts, "vec_id long, v array<double>")

    out = {r["vec_id"]: r for r in semdedup(df, k=3, iters=3, threshold=0.99).collect()}
    assert len(out) == 36
    for j in range(6):
        assert not out[100 + j]["is_kept"], f"replica {100 + j} not pruned"
        assert out[100 + j]["cluster_id"] == out[j]["cluster_id"]
    # originals within a blob are not near-dups of each other at 0.99?
    # they ARE (tight blob) — so only the lowest id per duplicate group
    # survives; just assert each cluster keeps at least one vector
    kept_per_cluster: dict[int, int] = {}
    for r in out.values():
        if r["is_kept"]:
            kept_per_cluster[r["cluster_id"]] = kept_per_cluster.get(r["cluster_id"], 0) + 1
    assert all(v >= 1 for v in kept_per_cluster.values())
    assert len(kept_per_cluster) == 3


def test_semdedup_agrees_with_bruteforce_rule(spark, frames):
    """The distributed removal set equals the brute-force recomputation
    of the rule (same-cluster, lower-id neighbor above threshold) from
    the collected assignment — the blocking join drops no within-
    cluster pair and invents none."""
    import math

    from real_time_fraud_detection_lakehouse_spark.operators.similarity import (
        SEMDEDUP_K,
        SEMDEDUP_THRESHOLD,
        _vec_double,
        kmeans_lloyd,
        semdedup,
    )
    from pyspark.sql import functions as F

    emb = frames["embeddings"].select("vec_id", _vec_double("embedding").alias("v"))
    marked = {r["vec_id"]: r for r in semdedup(emb).collect()}
    assigned = {
        r["vec_id"]: r["cluster_id"] for r in kmeans_lloyd(emb, k=SEMDEDUP_K).collect()
    }
    vecs = {r["vec_id"]: r["v"] for r in emb.collect()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        d = dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))
        return math.floor(d * 1e6 + 0.5) / 1e6  # same dround as the operator

    ids = sorted(vecs)
    expected_removed = set()
    for i, va in enumerate(ids):
        for vb in ids[i + 1 :]:
            if assigned[va] == assigned[vb] and cos(vecs[va], vecs[vb]) > SEMDEDUP_THRESHOLD:
                expected_removed.add(vb)
    actual_removed = {v for v, r in marked.items() if not r["is_kept"]}
    assert actual_removed == expected_removed
    assert set(marked) == set(vecs)


def test_hybrid_rrf_invariants(spark, frames):
    """RRF fusion invariants: the dense query vector ranks itself
    first (cosine 1 with itself), fused scores are bounded by the RRF
    formula, and every emitted doc carries at least one list rank."""
    from real_time_fraud_detection_lakehouse_spark.operators.retrieval import (
        HYBRID_QUERY_ID,
        HYBRID_TOP_K,
        RRF_K,
        docs_hybrid_rrf,
    )

    rows = docs_hybrid_rrf(frames).collect()
    assert 0 < len(rows) <= HYBRID_TOP_K
    by_id = {r["doc_id"]: r for r in rows}
    # the query vector's own doc is in the fused list with dense rank 1
    assert HYBRID_QUERY_ID in by_id
    assert by_id[HYBRID_QUERY_ID]["vec_rank"] == 1
    for r in rows:
        assert r["lex_rank"] is not None or r["vec_rank"] is not None
        assert 0.0 < r["rrf_score"] <= 2.0 / (RRF_K + 1) + 1e-9
    # fused list is sorted by score desc then doc_id
    scores = [(-r["rrf_score"], r["doc_id"]) for r in rows]
    assert scores == sorted(scores)


# --- ExactSubstr span dedup (planted positive path) -------------------------
def test_exact_substr_spans_and_removal(spark):
    """Cross-doc duplicated 8-token windows merge into maximal spans
    (two disjoint spans in one doc stay disjoint; overlapping windows
    over a 10-token shared run merge into one span), and the removal
    variant cuts exactly the spanned tokens while clean/short docs
    pass through whitespace-normalized."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        docs_dup_spans,
        docs_exact_substr_dedup,
    )

    s1 = "one two three four five six seven eight nine ten"  # 10 tokens
    s2 = "red orange yellow green blue indigo violet ultra"  # 8 tokens
    mids = " ".join(f"m{i}" for i in range(9))
    rows = [
        f"{s1} {mids} {s2}",  # spans [0,9] and [19,26]
        f"pre1 pre2 {s1} tail1",  # span [2,11]
        s2,  # span [0,7] — whole doc duplicated
        "no duplicated content in this little document at all",  # 9 unique tokens
        "tiny doc",  # < 8 tokens: no windows at all
    ]
    spans: dict[int, list] = {}
    for r in docs_dup_spans(_docs(spark, rows)).collect():
        spans.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["span_len"])
        )
    assert sorted(spans[0]) == [(0, 9, 10), (19, 26, 8)]
    assert spans[1] == [(2, 11, 10)]
    assert spans[2] == [(0, 7, 8)]
    assert 3 not in spans and 4 not in spans

    got = {
        r["doc_id"]: r for r in docs_exact_substr_dedup(_docs(spark, rows)).collect()
    }
    assert got[0]["clean_text"] == mids
    assert got[0]["n_tokens_removed"] == 18
    assert got[1]["clean_text"] == "pre1 pre2 tail1"
    assert got[1]["n_tokens_removed"] == 10
    assert (got[2]["clean_text"], got[2]["n_tokens_removed"]) == ("", 8)
    assert got[3]["clean_text"] == rows[3] and got[3]["n_tokens_removed"] == 0
    assert got[4]["clean_text"] == "tiny doc" and got[4]["n_tokens_removed"] == 0


def test_dsir_weights_separate_target_vocab(spark):
    """DSIR log-importance is positive for docs drawn from the target
    ('en') vocabulary and negative for docs from a disjoint vocabulary
    — including a mislabeled doc whose CONTENT is target-like (the
    whole point of importance weighting over labels)."""
    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        docs_dsir_weights,
    )

    en = "alpha beta gamma delta alpha beta gamma delta alpha beta"
    fr = "rouge bleu vert jaune rouge bleu vert jaune rouge bleu"
    frames = {
        "documents": spark.createDataFrame(
            [
                (0, en, "en", "s", len(en)),
                (1, en + " gamma delta", "en", "s", 1),
                (2, en, "en", "s", len(en)),
                (3, fr, "fr", "s", len(fr)),
                (4, fr + " jaune rouge", "fr", "s", 1),
                (5, en, "fr", "s", len(en)),  # mislabeled target-like content
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    }
    got = {r["doc_id"]: r for r in docs_dsir_weights(frames).collect()}
    assert len(got) == 6
    for i in (0, 1, 2, 5):
        assert got[i]["log_importance"] > 0, (i, got[i])
        assert got[i]["target_like"]
    for i in (3, 4):
        assert got[i]["log_importance"] < 0, (i, got[i])
        assert not got[i]["target_like"]


def test_bpe_merges_classic_corpus(spark):
    """BPE trainer on the Sennrich low/lower/newest/widest corpus
    learns the textbook merge sequence (deterministic count-desc,
    pair-asc tie-break), and the learned rules segment the UNSEEN word
    'lowest' into ['low', 'est</w>'] — the generalization BPE exists
    for."""
    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        bpe_apply,
        bpe_train,
    )

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    rows = bpe_train(_docs(spark, [text])["documents"]).collect()
    got = [(r["rank"], r["left"], r["right"], r["merged"], r["pair_count"]) for r in rows]
    assert got == [
        (0, "e", "s", "es", 9),
        (1, "es", "t", "est", 9),
        (2, "est", "</w>", "est</w>", 9),
        (3, "l", "o", "lo", 7),
        (4, "lo", "w", "low", 7),
        (5, "e", "w", "ew", 6),
        (6, "ew", "est</w>", "ewest</w>", 6),
        (7, "n", "ewest</w>", "newest</w>", 6),
        (8, "low", "</w>", "low</w>", 5),
        (9, "d", "est</w>", "dest</w>", 3),
    ]
    merge_list = [(l, r) for _, l, r, _, _ in got]
    df = spark.createDataFrame([("lowest",), ("low",)], "word string").select(
        "word", bpe_apply(merge_list, "word").alias("s")
    )
    segs = {r["word"]: r["s"] for r in df.collect()}
    assert segs["lowest"] == ["low", "est</w>"]
    assert segs["low"] == ["low</w>"]


def test_bpe_exact_batching_fewer_rounds_same_rules(spark):
    """The batched trainer must be round-EFFICIENT without changing
    output: on the classic corpus the 10 exact merges take well under
    10 rounds (one pair-count job per round, not per merge), and
    batch=1 (strict sequential) produces the identical merge table."""
    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        bpe_train,
        bpe_train_stats,
    )

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = _docs(spark, [text])["documents"]
    batched = [tuple(r) for r in bpe_train(docs).collect()]
    assert bpe_train_stats["merges"] == 10
    # tie-dense tiny corpus: the strict-count cutoff guard rejects most
    # batch-mates (a tie with the conflict cutoff is unsafe), so exact
    # mode saves little here — 9 rounds vs 10. Real Zipf-distinct
    # corpora batch much better; fast mode is the scale path either way.
    assert bpe_train_stats["rounds"] <= 9
    sequential = [tuple(r) for r in bpe_train(docs, batch=1).collect()]
    assert bpe_train_stats["rounds"] == 10
    assert batched == sequential


def test_bpe_fast_mode_one_round_across_disjoint_words(spark):
    """fast mode's contract: within a round it accepts mutually
    symbol-DISJOINT pairs in count order, skipping conflicts — so four
    words over disjoint alphabets yield one merge per word in a SINGLE
    round (exact mode, by contrast, stops at each word's own EOW-pair
    count tie and needs a round per merge)."""
    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        bpe_train,
        bpe_train_stats,
    )

    text = " ".join(["ab"] * 9 + ["cd"] * 8 + ["ef"] * 7 + ["gh"] * 6)
    docs = _docs(spark, [text])["documents"]
    fast = bpe_train(docs, n_merges=4, mode="fast").collect()
    assert [(r["left"], r["right"], r["pair_count"]) for r in fast] == [
        ("a", "b", 9),
        ("c", "d", 8),
        ("e", "f", 7),
        ("g", "h", 6),
    ]
    assert bpe_train_stats["rounds"] == 1  # all four disjoint → one round
    # exact mode on the same corpus: (b,</w>) ties (a,b) at 9, so the
    # strict prefix is one pair; merge 2 is the newly created (ab,</w>)
    exact = bpe_train(docs, n_merges=2).collect()
    assert [(r["left"], r["right"]) for r in exact] == [("a", "b"), ("ab", "</w>")]
    assert bpe_train_stats["rounds"] == 2


def test_bpe_fast_mode_round_bound_on_classic_corpus(spark):
    """fast mode on the conflict-heavy classic corpus: 10 merges in at
    most ceil-ish rounds well below sequential, every rule's count
    matches the round-start pair table (spot-checked: the first round
    accepts (e,s) then skips its conflicts and takes the disjoint
    (l,o) with its true pre-round count 7)."""
    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        bpe_train,
        bpe_train_stats,
    )

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = _docs(spark, [text])["documents"]
    rows = bpe_train(docs, mode="fast").collect()
    assert len(rows) == 10
    assert bpe_train_stats["rounds"] < 7  # strictly better than exact's 7
    first_two = [(r["left"], r["right"], r["pair_count"]) for r in rows[:2]]
    assert first_two[0] == ("e", "s", 9)
    # (s,t), (t,</w>) conflict with (e,s)? only s does; (t,</w>) is
    # disjoint of {e,s,es} and is accepted second at its round-start count
    assert first_two[1] == ("t", "</w>", 9)


def test_classifier_scores_separate_planted_classes(spark):
    """docs_classifier_scores on shape-separable planted data: long
    diverse 'en' docs vs short repetitive non-'en' docs must score
    p_target high/low respectively with full training accuracy (the
    synthetic corpus itself is not shape-separable — the machinery is
    what this pins)."""
    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        docs_classifier_scores,
    )

    long_diverse = " ".join(f"w{i}" for i in range(80))
    short_rep = "spam spam spam spam spam"
    rows = []
    for i in range(10):
        rows.append((i, long_diverse, "en", "s", 1))
        rows.append((100 + i, short_rep, "fr", "s", 1))
    frames = {
        "documents": spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    }
    got = {r["doc_id"]: r for r in docs_classifier_scores(frames).collect()}
    assert len(got) == 20
    for i in range(10):
        assert got[i]["predicted_target"] and got[i]["p_target"] > 0.9
        assert not got[100 + i]["predicted_target"] and got[100 + i]["p_target"] < 0.1


def test_bpe_tokenize_counts_on_classic_corpus(spark):
    """Corpus-wide BPE tokenization with rules learned from the same
    corpus: after 10 merges every training word is a single token
    ('low</w>', 'newest</w>') except the partially-merged stragglers
    ('lower' -> low+e+r+</w> = 4, 'widest' -> w+i+dest</w> = 3)."""
    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        text_bpe_tokenize,
    )

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    got = text_bpe_tokenize(_docs(spark, [text])).collect()
    assert len(got) == 1
    r = got[0]
    assert r["n_words"] == 16
    # 5*1 (low</w>) + 2*4 (l,o,w? no: low,e,r,</w>) + 6*1 + 3*3
    assert r["n_bpe_tokens"] == 5 * 1 + 2 * 4 + 6 * 1 + 3 * 3


def test_strip_boilerplate_join_path_equals_filter_path(spark):
    """The large-fset anti-join strategy (forced via join_threshold=0)
    produces byte-identical output to the in-row filter strategy on
    the planted banner corpus — adaptive plan choice, one semantics."""
    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        docs_strip_boilerplate,
    )

    banner = "all rights reserved by the example site inc"
    rows = [
        banner + " unique alpha beta gamma delta eps zeta eta",
        banner + " other content words here for doc two xx",
        banner + " third body text goes here in doc three",
        "completely clean document with its own words tail tail",
    ]
    frames = _docs(spark, rows)
    a = sorted(map(tuple, docs_strip_boilerplate(frames).collect()))
    b = sorted(map(tuple, docs_strip_boilerplate(frames, join_threshold=0).collect()))
    assert a == b


def test_char_entropy_ordering(spark):
    """Entropy orders as theory says: single-char spam ~0 bits, a
    uniform 4-char doc = exactly 2 bits, natural-ish text in between
    and higher."""
    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        text_char_entropy,
    )

    rows = [
        "aaaa aaaa aaaa",  # 1 distinct non-space char + space
        "abcd" * 8,  # uniform over 4 chars -> exactly 2 bits
        "the quick brown fox jumps over the lazy dog",  # pangram-ish
    ]
    got = {r["doc_id"]: r for r in text_char_entropy(_docs(spark, rows)).collect()}
    # doc 0: two symbols (a, space), heavily skewed -> low but nonzero
    assert got[0]["entropy_bits"] < 1.0
    assert got[1]["entropy_bits"] == 2.0
    assert got[1]["distinct_chars"] == 4
    assert got[2]["entropy_bits"] > 3.5
    assert got[0]["entropy_bits"] < got[2]["entropy_bits"]


def test_curate_pipeline_planted_gates(spark):
    """Composed curation on a planted corpus exercises every gate at
    once: the exact-dup loser, the low-quality doc, the non-English
    doc, the eval-source doc, and the doc sharing a 5-gram with the
    eval set are ALL dropped; the clean survivor keeps its PII-scrubbed
    fingerprint (scrub proven by n_pii and by clean_fp differing from
    the raw-text md5)."""
    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        docs_curate_pipeline,
    )

    good = " ".join(f"tok{i} the" for i in range(20))  # 40 tokens, diverse, en
    pii = good + " contact bob@example.com now"
    eval_doc = "alpha beta gamma delta epsilon " + " ".join(f"e{i} the" for i in range(20))
    contaminated = "alpha beta gamma delta epsilon " + " ".join(f"c{i} the" for i in range(20))
    low_quality = "the the the the the the the the the the"  # diversity 0.1, len<20
    non_en = " ".join(f"wort{i} und" for i in range(20))  # no EN markers
    rows = [
        (0, good, "en", "src1", len(good)),
        (1, good, "en", "src1", len(good)),        # exact dup of 0 → dropped
        (2, pii, "en", "src1", len(pii)),
        (3, eval_doc, "en", "src0", len(eval_doc)),  # eval source → dropped
        (4, contaminated, "en", "src1", len(contaminated)),  # shares 5-gram → dropped
        (5, low_quality, "en", "src1", len(low_quality)),
        (6, non_en, "de", "src1", len(non_en)),
    ]
    frames = {
        "documents": spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    }
    got = {r["doc_id"]: r for r in docs_curate_pipeline(frames).collect()}
    assert set(got) == {0, 2}
    assert got[2]["n_pii"] == 1
    import hashlib

    assert got[0]["clean_fp"] == hashlib.md5(good.encode()).hexdigest()  # no PII → identity
    assert got[2]["clean_fp"] != hashlib.md5(pii.encode()).hexdigest()  # scrub changed text
    scrubbed = pii.replace("bob@example.com", "<EMAIL>")
    assert got[2]["clean_fp"] == hashlib.md5(scrubbed.encode()).hexdigest()


def test_curate_pipeline_scored_adds_classifier_gate(spark):
    """The scored variant returns exactly the oracled survivor set with
    a p_target column in [0,1] and selected == (p_target > 0.5)."""
    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        docs_curate_pipeline,
        docs_curate_pipeline_scored,
    )

    texts = [" ".join(f"w{i}_{j} the" for j in range(25)) for i in range(8)]
    frames = _docs(spark, texts)
    base_ids = {r["doc_id"] for r in docs_curate_pipeline(frames).collect()}
    scored = docs_curate_pipeline_scored(frames).collect()
    assert {r["doc_id"] for r in scored} == base_ids
    for r in scored:
        assert 0.0 <= r["p_target"] <= 1.0
        assert r["selected"] == (r["p_target"] > 0.5)


def test_unigram_logprob_orders_natural_above_gibberish(spark):
    """Unigram LM scoring: a doc made of corpus-common tokens must
    out-score a doc of corpus-unique tokens (each appearing once), and
    the smoothed probabilities are a proper distribution (avg_logprob
    strictly negative). Exact values are oracle-checked; this pins the
    ORDERING semantics the filter exists for."""
    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        docs_unigram_logprob,
    )

    common = " ".join(["the", "of", "and", "to"] * 10)  # high-count tokens
    gibberish = " ".join(f"zzq{i}x" for i in range(40))  # 40 singletons
    frames = _docs(spark, [common, gibberish, common])
    got = {r["doc_id"]: r for r in docs_unigram_logprob(frames).collect()}
    assert set(got) == {0, 1, 2}
    assert got[0]["avg_logprob"] == got[2]["avg_logprob"]  # same text → same score
    assert got[0]["avg_logprob"] > got[1]["avg_logprob"]
    for r in got.values():
        assert r["avg_logprob"] < 0.0
        assert r["n_tokens"] == 40
        assert r["lm_keep"] == (r["avg_logprob"] >= -6.0)


def test_bpe_512_realistic_vocab_batches_rounds(spark, frames):
    """text_bpe_merges_512 (the standing scale artifact the round-7
    verdict asked for): a 512-merge fast-mode train over the real
    documents table finishes in FAR fewer pair-count rounds than
    merges — the batched-trainer claim that a vocab-sized train costs
    ~vocab/batch jobs. Also pins: ranks contiguous, rules unique, and
    counts nonincreasing WITHIN each round's disjoint batch is not
    required (fast mode recounts per round), but counts are positive."""
    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        TEXT_OPS,
        bpe_train_stats,
    )

    rows = TEXT_OPS["text_bpe_merges_512"][0](frames).collect()
    assert len(rows) >= 100, f"corpus supports only {len(rows)} merges"
    assert bpe_train_stats["merges"] == len(rows)
    # the whole point: rounds ≪ merges. sf0.001's tiny vocab exhausts at
    # ~113 merges in ~23 rounds (collision-closed batches shrink near
    # exhaustion), still a >2x round collapse; the sf0.1 full-vocab
    # measurement is 22 rounds for ~700 merges (PLANS.md)
    assert 2 * bpe_train_stats["rounds"] <= len(rows), bpe_train_stats
    assert [r["rank"] for r in rows] == list(range(len(rows)))
    assert len({(r["left"], r["right"]) for r in rows}) == len(rows)
    assert all(r["pair_count"] > 0 for r in rows)


def test_cluster_stats_planted_histogram(spark):
    """Three identical docs + a separate identical pair + a singleton:
    the histogram shows exactly one size-3 cluster (2 redundant) and
    one size-2 cluster (1 redundant); singletons never appear (they
    have no near-dup pair)."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        dedup_cluster_stats,
    )

    tri = "alpha bravo charlie delta echo foxtrot golf hotel"
    duo = "india juliett kilo lima mike november oscar papa"
    uniq = "quebec romeo sierra tango uniform victor whiskey xray"
    frames = _docs(spark, [tri, tri, tri, duo, duo, uniq])
    got = {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"], r["n_redundant"])
        for r in dedup_cluster_stats(frames).collect()
    }
    assert got == {3: (1, 3, 2), 2: (1, 2, 1)}


def test_contamination_report_planted_rates(spark):
    """One train source leaks the eval text verbatim, the other is
    clean: the report shows rate 0.5 for the leaking source (1 of its
    2 docs contaminated), 0.0 for the clean one, and counts every doc
    in n_docs including gram-ineligible short ones."""
    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        DECON_EVAL_SOURCE,
        docs_contamination_report,
    )

    eval_text = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, DECON_EVAL_SOURCE, eval_text),
        (2, "web", eval_text + " extra trailing words here"),  # leaks grams
        (3, "web", "completely different content with no overlap at all"),
        (4, "books", "unrelated prose that shares nothing with the benchmark"),
        (5, "books", "tiny doc"),  # < DECON_GRAM tokens: counted, never contaminated
    ]
    frames = {
        "documents": spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )
    }
    got = {
        r["source"]: (r["n_docs"], r["n_contaminated"], r["contamination_rate"])
        for r in docs_contamination_report(frames).collect()
    }
    assert got["web"] == (2, 1, 0.5)
    assert got["books"] == (2, 0, 0.0)
    assert DECON_EVAL_SOURCE not in got


def test_unigram_logprob_builds_lazily_and_shuffle_path_matches(spark, monkeypatch):
    """Round-9 regression pair for the scoring join's AQE size gate:
    (a) BUILDING the plan launches zero Spark jobs — the round-8 eager
    ``model.count()`` gate made explain-only tests and registry walks
    run two jobs per construction; (b) forcing the above-threshold
    SHUFFLE strategy (autoBroadcastJoinThreshold=-1, the 1e8-vocab
    web-corpus path) returns exactly the default path's output — the
    join strategy never changes values."""
    from pyspark.sql import DataFrame as _DF

    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        docs_unigram_logprob,
    )

    common = " ".join(["the", "of", "and", "to"] * 10)
    gibberish = " ".join(f"zzq{i}x" for i in range(40))
    frames = _docs(spark, [common, gibberish, common])

    def _eager(self, *a, **k):  # pragma: no cover - assertion path
        raise AssertionError("plan construction ran an eager Spark action")

    with monkeypatch.context() as m:
        m.setattr(_DF, "count", _eager)
        m.setattr(_DF, "collect", _eager)
        m.setattr(_DF, "toPandas", _eager)
        df = docs_unigram_logprob(frames)  # must stay lazy

    key = lambda r: r["doc_id"]
    bc = sorted(df.collect(), key=key)
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        sh = sorted(docs_unigram_logprob(frames).collect(), key=key)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert [tuple(r) for r in bc] == [tuple(r) for r in sh]


def test_decon_gram_hashes_short_doc_guard(spark):
    """Docs shorter than DECON_GRAM yield an EMPTY gram array (not an
    ANSI out-of-range element_at error) — the guard inside
    decon_gram_hashes that the streaming ingest path relies on, where
    grams are computed BEFORE the length gates. Boundary: exactly
    DECON_GRAM tokens → exactly one gram."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        decon_gram_hashes,
    )
    from real_time_fraud_detection_lakehouse_spark.operators.text import DECON_GRAM

    docs = spark.createDataFrame(
        [(0, "a b"), (1, " ".join(f"t{i}" for i in range(DECON_GRAM)) ), (2, "")],
        "doc_id long, text string",
    )
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    th = F.transform(toks, lambda x: F.xxhash64(x))
    rows = {r["doc_id"]: r["g"] for r in docs.select(
        "doc_id", decon_gram_hashes(th).alias("g")
    ).collect()}
    assert rows[0] == [] and rows[2] == []
    assert len(rows[1]) == 1


def test_keep_best_elects_quality_keeper_not_min_id(spark):
    """docs_dedup_keep_best (round 10): a planted near-dup cluster
    whose LOWEST-quality member has the SMALLEST doc_id — min-id
    election (docs_dedup_apply) keeps the degraded copy, the
    quality-aware election must keep the clean one. Singletons pass
    through both."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        docs_dedup_apply,
        docs_dedup_keep_best,
    )

    base_tokens = [f"tok{i:02d}" for i in range(25)]
    clean = " ".join(base_tokens)  # 25 distinct/25 → diversity 1.0
    degraded = clean + " " + clean  # same gram set (J≈0.92), diversity 0.5
    rows = [
        (1, "en", "web", degraded),  # min id = the WORSE copy
        (2, "en", "web", clean),
        (9, "en", "web", " ".join(f"other{i:02d}" for i in range(30))),  # singleton
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    ).withColumn("n_chars", F.length("text"))
    t = {"documents": docs}

    min_id_kept = {r["doc_id"] for r in docs_dedup_apply(t).collect()}
    best_kept = {r["doc_id"] for r in docs_dedup_keep_best(t).collect()}
    assert min_id_kept == {1, 9}, "fixture broken: min-id must keep the degraded copy"
    assert best_kept == {2, 9}, "quality election must keep the clean copy + singleton"


def test_incremental_dedup_admits_only_fresh_arrivals(spark):
    """docs_dedup_incremental (round 10): arrivals (doc_id above 80%
    of max) are gated against the standing corpus — exact-fp twin of a
    corpus doc dropped, near-dup of a corpus doc dropped, exact-fp
    twin of a SMALLER-id arrival dropped, genuinely fresh doc
    admitted. The corpus itself is never emitted."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        docs_dedup_incremental,
    )

    base = " ".join(f"tok{i:02d}" for i in range(25))
    near = base + " extraa extrab extrac"  # same prefix bucket, J≈0.82
    fresh = " ".join(f"new{i:02d}" for i in range(25))
    rows = [
        (1, "en", "web", base),    # corpus
        (2, "en", "web", fresh.replace("new", "old")),  # corpus, unrelated
        # hwm = floor(16 * 0.8) = 12 → arrivals are 13..16
        (13, "en", "web", base),   # exact twin of corpus doc 1 → dropped
        (14, "en", "web", near),   # near-dup of corpus doc 1 → dropped
        (15, "en", "web", fresh),  # fresh → ADMITTED
        (16, "en", "web", fresh),  # exact twin of arrival 15 → dropped
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    ).withColumn("n_chars", F.length("text"))
    out = docs_dedup_incremental({"documents": docs}).collect()
    assert {r["doc_id"] for r in out} == {15}


def test_keep_best_lsh_agrees_with_exact_twin(spark, frames):
    """The scale-path quality election (LSH clusters) keeps exactly
    the docs its exact-n-gram oracled twin keeps at this SF — the
    cluster-agreement guarantee (asserted above for the component
    sets) must carry through the election."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        docs_dedup_keep_best,
        docs_dedup_keep_best_lsh,
    )

    exact = {r["doc_id"] for r in docs_dedup_keep_best(frames).collect()}
    lsh = {r["doc_id"] for r in docs_dedup_keep_best_lsh(frames).collect()}
    assert exact == lsh


def test_leakage_safe_split_never_splits_a_cluster(spark, frames):
    """docs_split_leakage_safe (round 10): every near-dup cluster
    lands wholly in one split (the leakage guard randomSplit cannot
    give), proportions sit near the 80/20 target, and the assignment
    is deterministic across invocations."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        docs_split_leakage_safe,
    )

    rows = docs_split_leakage_safe(frames).collect()
    by_key: dict[int, set[str]] = {}
    for r in rows:
        by_key.setdefault(r["split_key"], set()).add(r["split"])
    multi = {k: v for k, v in by_key.items() if len(v) > 1}
    assert not multi, f"clusters straddle the split: {list(multi)[:3]}"
    train = sum(1 for r in rows if r["split"] == "train")
    assert 0.7 <= train / len(rows) <= 0.9
    again = docs_split_leakage_safe(frames).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_leakage_safe_split_survives_huge_doc_ids_ansi_both_engines(spark, tmp_path):
    """Round-11 overflow fix: the split hash reduces the key modulo
    2^31-1 BEFORE the Knuth multiply, so the product stays inside
    int64 for EVERY BIGINT doc_id. The raw ``key * 2654435761`` wraps
    int64 at key >= ~3.47e9 — Spark ANSI and DuckDB both ERROR there —
    and 100 TB corpora routinely carry doc_ids > 2^32. Exercised at
    ids from 2^33 up to Long.MAX, exact assignment equality against
    the registered DuckDB oracle under ANSI in both engines."""
    import duckdb
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        DEDUP_OPS,
        docs_split_leakage_safe,
    )
    from tests.conftest import compare_frames

    big_ids = [
        2**33,               # first decade past the old overflow point
        2**33 + 1,
        3_470_000_000 + 7,   # right at the old wrap boundary
        2**40 + 123,
        2**52 + 7,
        2**62 + 11,
        9223372036854775807,  # Long.MAX itself
    ]
    rows = [
        (i, "en", "web", " ".join(f"uniq{k:02d}tok{j:02d}" for j in range(25)))
        for k, i in enumerate(big_ids)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    ).withColumn("n_chars", F.length("text"))
    pq = str(tmp_path / "documents.parquet")
    docs.toPandas().to_parquet(pq)

    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        out = docs_split_leakage_safe({"documents": spark.read.parquet(pq)})
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}')"
        )
        compare_frames(out, con.sql(DEDUP_OPS["docs_split_leakage_safe"][1]))
        con.close()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_incremental_maintained_agrees_with_recompute_twin(spark, frames, tmp_path):
    """Round-11 verdict #4: the maintained-corpus ingest gate
    (docs_dedup_incremental_maintained reading build_corpus_index's
    published group) admits EXACTLY the arrivals the recompute twin
    admits on the same corpus/arrival split — full-row agreement at
    this SF, and the index build publishes both projections under one
    manifest."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        _INCR_HWM_FRACTION,
        build_corpus_index,
        docs_dedup_incremental,
        docs_dedup_incremental_maintained,
    )
    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import read_published

    docs = frames["documents"]
    h = docs.agg(
        F.floor(F.max("doc_id") * _INCR_HWM_FRACTION).cast("long")
    ).first()[0]
    root = str(tmp_path / "corpus_index")
    group = build_corpus_index({"documents": docs.filter(F.col("doc_id") <= h)}, root)
    assert group == 1
    # r16: the index additionally publishes the global containment
    # gate's posting/df surfaces
    assert set(read_published(spark, root)) == {
        "corpus_fps",
        "corpus_grams",
        "corpus_postings",
        "corpus_df",
    }

    maintained = docs_dedup_incremental_maintained(
        spark, docs.filter(F.col("doc_id") > h), root
    )
    recompute = docs_dedup_incremental(frames)
    key = lambda r: r["doc_id"]
    assert sorted(map(tuple, maintained.collect()), key=lambda t: t[0]) == sorted(
        map(tuple, recompute.collect()), key=lambda t: t[0]
    )


def test_corpus_build_composes_stages_and_packs_gapless(spark, frames):
    """docs_corpus_build (round 11): the survivor set is EXACTLY
    curated ∩ keep-best keepers, each row carries its leakage-safe
    split assignment, test docs are unpacked (NULL seq columns), and
    the train pack is gapless — ordering train rows by their packed
    position reproduces the running token total exactly (zero padding
    waste, no overlap)."""
    from real_time_fraud_detection_lakehouse_spark.operators.corpus import (
        docs_corpus_build,
    )
    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        docs_curate_pipeline,
    )
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        docs_dedup_keep_best,
        docs_split_leakage_safe,
    )
    from real_time_fraud_detection_lakehouse_spark.operators.text import SEQ_LEN

    rows = docs_corpus_build(frames).collect()
    curated = {r["doc_id"] for r in docs_curate_pipeline(frames).collect()}
    kept = {r["doc_id"] for r in docs_dedup_keep_best(frames).collect()}
    split = {r["doc_id"]: r["split"] for r in docs_split_leakage_safe(frames).collect()}
    assert {r["doc_id"] for r in rows} == curated & kept
    assert all(r["split"] == split[r["doc_id"]] for r in rows)

    test_rows = [r for r in rows if r["split"] == "test"]
    assert test_rows and all(
        r["seq_id"] is None and r["seq_offset"] is None for r in test_rows
    )
    train = sorted(
        (r for r in rows if r["split"] == "train"),
        key=lambda r: (r["seq_id"], r["seq_offset"]),
    )
    assert train and all(0 <= r["seq_offset"] < SEQ_LEN for r in train)
    cum = 0
    for r in train:
        assert r["seq_id"] * SEQ_LEN + r["seq_offset"] == cum, r
        cum += r["n_tokens"]


def test_corpus_ingest_cycle_two_days(spark, tmp_path):
    """corpus_ingest_cycle (round-11 stretch): the production loop —
    gate, fold admissions, return admitted — run for two days. Day 1
    admits the fresh doc and folds it; day 2's near-dup of that
    admission is gated by the folded index (the whole point of the
    fold-in) while a genuinely new doc is admitted and folded in turn."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        build_corpus_index,
        corpus_ingest_cycle,
    )

    base = " ".join(f"tok{i:02d}" for i in range(25))
    fresh = " ".join(f"new{i:02d}" for i in range(25))
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    ).withColumn("n_chars", F.length("text"))

    root = str(tmp_path / "index")
    build_corpus_index(
        {"documents": mk([(1, "en", "web", base), (2, "en", "web", fresh.replace("new", "old"))])},
        root,
    )

    day1 = mk([
        (13, "en", "web", base),   # exact twin of corpus → dropped
        (15, "en", "web", fresh),  # admitted + folded
    ])
    out1 = corpus_ingest_cycle(spark, day1, root)
    assert {r["doc_id"] for r in out1.collect()} == {15}
    # the returned frame is stable across actions (materialized, not
    # a lazy re-run of the gate)
    assert {r["doc_id"] for r in out1.collect()} == {15}

    day2 = mk([
        (17, "en", "web", fresh + " extraa extrab extrac"),  # near-dup of folded 15
        (18, "en", "web", " ".join(f"day2{i:02d}" for i in range(25))),
    ])
    out2 = corpus_ingest_cycle(spark, day2, root)
    assert {r["doc_id"] for r in out2.collect()} == {18}

    day3 = mk([(21, "en", "web", " ".join(f"day2{i:02d}" for i in range(25)))])
    assert corpus_ingest_cycle(spark, day3, root).collect() == [], (
        "day-3 exact twin of day-2's folded admission must be gated"
    )


# --- corpus-gram analytics (round 11: overlap / novelty / vocab / zipf) ------
def test_cross_overlap_planted_mirror_pair(spark):
    """Source B carries an exact copy of source A's only document (plus
    one extended doc): every A gram is contained in B (overlap_a = 1.0)
    while B's extension dilutes the reverse direction; source C is
    gram-disjoint and forms no pair row (inner-join semantics)."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import docs_cross_overlap

    rows = [
        (0, "alpha beta gamma delta epsilon", "en", "A", 30),
        (1, "alpha beta gamma delta epsilon", "en", "B", 30),
        (2, "alpha beta gamma delta epsilon zeta", "en", "B", 36),
        (3, "one two three four five six", "en", "C", 27),
    ]
    t = {
        "documents": spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    }
    out = {(r.src_a, r.src_b): r for r in docs_cross_overlap(t).collect()}
    assert set(out) == {("A", "B")}, "disjoint source C must pair with nobody"
    r = out[("A", "B")]
    # A: 3 distinct 3-grams from its 5 tokens, all present in B's copy
    assert (r.grams_a, r.grams_b, r.shared_grams) == (3, 4, 3)
    assert r.overlap_a == 1.0 and r.overlap_b == 0.75


def test_ngram_novelty_planted(spark):
    """Ingestion-order novelty: the first doc introduces every gram
    (1.0), its exact later copy introduces none (0.0), fresh text is
    fully novel, and a one-token extension of doc 0 adds exactly one
    new gram in four (0.25)."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import docs_ngram_novelty

    rows = [
        (0, "alpha beta gamma delta epsilon", "en", "A", 30),
        (1, "alpha beta gamma delta epsilon", "en", "A", 30),
        (2, "one two three four five six", "en", "A", 27),
        (3, "alpha beta gamma delta epsilon zeta", "en", "A", 36),
    ]
    t = {
        "documents": spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    }
    out = {r.doc_id: r for r in docs_ngram_novelty(t).collect()}
    assert out[0].novelty == 1.0 and out[0].n_grams == 3
    assert out[1].novelty == 0.0 and out[1].novel_grams == 0
    assert out[2].novelty == 1.0
    assert (out[3].n_grams, out[3].novel_grams, out[3].novelty) == (4, 1, 0.25)


def test_vocab_coverage_planted(spark):
    """With 17 distinct tokens and VOCAB_K = 16, exactly the rarest
    token falls out of vocabulary: the doc carrying it counts one OOV
    occurrence, the all-vocab doc counts zero."""
    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        VOCAB_K,
        text_vocab_coverage,
    )

    assert VOCAB_K == 16, "fixture is built for the registered vocab budget"
    toks = [f"t{i:02d}" for i in range(16)]
    rows = [
        (0, " ".join(toks), "en", "A", 0),
        (1, " ".join(toks) + " rare", "en", "A", 0),
    ]
    t = {
        "documents": spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    }
    out = {r.doc_id: r for r in text_vocab_coverage(t).collect()}
    assert out[0].n_oov == 0 and out[0].oov_rate == 0.0
    assert (out[1].n_tokens, out[1].n_oov) == (17, 1)
    assert abs(out[1].oov_rate - round(1 / 17, 6)) < 1e-6


def test_zipf_fit_matches_closed_form(spark):
    """The fitted slope/intercept/r² equal the numpy least-squares
    closed form on a planted 8/4/2/1 frequency ladder (ranks tie-free
    by construction), under the shared dround discipline."""
    import math

    import numpy as np

    from real_time_fraud_detection_lakehouse_spark.operators.text import text_zipf_fit

    text = " ".join(["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["d"])
    t = {
        "documents": spark.createDataFrame(
            [(0, text, "en", "A", len(text))],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    }
    row = text_zipf_fit(t).collect()[0]
    x = np.log(np.arange(1, 5, dtype=float))
    y = np.log(np.array([8.0, 4.0, 2.0, 1.0]))
    slope = ((x - x.mean()) * (y - y.mean())).sum() / ((x - x.mean()) ** 2).sum()
    intercept = y.mean() - slope * x.mean()
    r2 = np.corrcoef(x, y)[0, 1] ** 2

    def dr(v: float) -> float:
        return math.floor(v * 1e6 + 0.5) / 1e6

    assert row.n_types == 4
    assert row.zipf_slope == dr(slope)
    assert row.zipf_intercept == dr(intercept)
    assert row.zipf_r2 == dr(r2)


def test_novelty_mass_conservation(spark, frames):
    """Conservation law on the real corpus: every distinct gram is
    novel for exactly one document (its earliest), so novel_grams sums
    to the corpus's distinct-gram count — ties the per-doc report to
    the corpus total with no reference to the implementation."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        _gram_projection,
        docs_ngram_novelty,
    )

    out = docs_ngram_novelty(frames)
    total_novel = out.agg(F.sum("novel_grams")).first()[0]
    distinct_grams = (
        _gram_projection(frames)
        .select(F.explode("grams").alias("g"))
        .distinct()
        .count()
    )
    assert total_novel == distinct_grams


def test_cross_overlap_bounds_on_real_corpus(spark, frames):
    """Sanity bounds on the real corpus: shared grams never exceed
    either side's total, containments live in (0, 1], and the pair
    (src_a < src_b) never repeats."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import docs_cross_overlap

    rows = docs_cross_overlap(frames).collect()
    assert rows, "the synthetic corpus's shared vocab must overlap somewhere"
    seen = set()
    for r in rows:
        assert r.src_a < r.src_b
        assert (r.src_a, r.src_b) not in seen
        seen.add((r.src_a, r.src_b))
        assert 0 < r.shared_grams <= min(r.grams_a, r.grams_b)
        assert 0 < r.overlap_a <= 1.0 and 0 < r.overlap_b <= 1.0


def test_top_ngrams_mg_twin_agreement_no_eviction(spark, frames):
    """On the real corpus the TOTAL distinct bigram type count fits
    MG_CAPACITY (asserted below — the premise the operator's
    unconditional-agreement regime actually requires: no partition can
    evict and the merge keeps everything), so the twins must agree
    row-for-row, order included."""
    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        text_top_ngrams,
        text_top_ngrams_mg,
    )

    exact = [tuple(r) for r in text_top_ngrams(frames).collect()]
    sketch = [tuple(r) for r in text_top_ngrams_mg(frames).collect()]
    assert exact == sketch


def test_top_ngrams_mg_heavy_hitters_survive_eviction(spark):
    """Adversarial regime: one partition holds far more distinct
    bigrams than MG_CAPACITY (eviction provably fires), yet every
    bigram above the 2N/(capacity+1) frequency threshold must surface
    with its EXACT count — per-partition pigeonhole error plus the
    merge cut's, then the exact recount."""
    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        MG_CAPACITY,
        _bigram_stream,
        _mg_partial,
        text_top_ngrams_mg,
    )

    rare = " ".join(f"u{i:04d}" for i in range(3000))  # 2999 distinct, once each
    rows = [
        (0, rare, "en", "A", 0),
        (1, " ".join(["hot"] * 501), "en", "A", 0),   # "hot hot" x 500
        (2, " ".join(["warm"] * 51), "en", "A", 0),   # "warm warm" x 50
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1)  # force every bigram into ONE partition: eviction must fire

    n_distinct = _bigram_stream(docs).distinct().count()
    assert n_distinct > MG_CAPACITY, "fixture must exceed the counter budget"
    n_cands = (
        _bigram_stream(docs).mapInPandas(_mg_partial, "bigram string, n long").count()
    )
    assert n_cands <= MG_CAPACITY < n_distinct, "eviction did not fire"

    top = [tuple(r) for r in text_top_ngrams_mg({"documents": docs}).collect()]
    assert top[0] == ("hot hot", 500)
    assert top[1] == ("warm warm", 50)


def test_top_ngrams_mg_candidate_truncation_multi_partition(spark, tmp_path):
    """Truncation regime: two partitions whose merged type count
    exceeds MG_CAPACITY (neither partition evicts — the MERGE is what
    must bound the frame). The candidate set must stay <= capacity,
    contain every planted heavy hitter above 2N/(capacity+1), and the
    operator must recount them exactly."""
    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        MG_CAPACITY,
        _bigram_stream,
        _mg_candidates,
        _mg_partial,
        text_top_ngrams_mg,
    )

    block_a = " ".join(f"a{i:04d}" for i in range(800))  # 799 singleton bigrams
    block_b = " ".join(f"b{i:04d}" for i in range(800))
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    src = str(tmp_path / "docs")
    # one file per half -> one scan partition per file: deterministic
    # partition assignment (hash/range repartition would not pin which
    # half lands where)
    spark.createDataFrame(
        [(0, block_a, "en", "A", 0), (1, " ".join(["hot"] * 501), "en", "A", 0)],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(2, block_b, "en", "A", 0), (3, " ".join(["warm"] * 101), "en", "A", 0)],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    docs = spark.read.parquet(src)

    bigrams = _bigram_stream(docs)
    merged_distinct = (
        bigrams.mapInPandas(_mg_partial, "bigram string, n long")
        .select("bigram")
        .distinct()
        .count()
    )
    assert merged_distinct > MG_CAPACITY, (
        "fixture must overflow the merged summary for truncation to fire"
    )
    cands = _mg_candidates(bigrams)
    assert cands.count() <= MG_CAPACITY, "candidate frame exceeded the config bound"
    cand_set = {r["bigram"] for r in cands.collect()}
    n_stream = 799 + 500 + 799 + 100
    assert 500 > 2 * n_stream / (MG_CAPACITY + 1)  # fixture sanity: both are HHs
    assert {"hot hot", "warm warm"} <= cand_set, "heavy hitter truncated away"

    top = [tuple(r) for r in text_top_ngrams_mg({"documents": docs}).collect()]
    assert top[0] == ("hot hot", 500)
    assert top[1] == ("warm warm", 100)


def test_lm_perplexity_orders_template_below_noise(spark):
    """The LM-perplexity contract on a planted fixture: a document
    made of the corpus's dominant repeated bigram must score LOWER
    perplexity than a document of corpus-unique token soup, and every
    (n_bigrams, ppl) obeys the model's bounds (ppl >= 1; n_bigrams =
    token count - 1; docs with < 2 tokens are absent)."""
    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        docs_lm_perplexity,
    )

    common = " ".join(["the cat sat on the mat"] * 20)  # dominant bigrams
    noise = " ".join(f"z{i:03d}" for i in range(50))    # 49 unique bigrams
    docs = spark.createDataFrame(
        [
            (0, common, "en", "A", 0),
            (1, common, "en", "A", 0),
            (2, noise, "en", "A", 0),
            (3, "solo", "en", "A", 0),     # 1 token: no bigrams
            (4, None, "en", "A", 0),       # null text: absent
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r["doc_id"]: r for r in docs_lm_perplexity({"documents": docs}).collect()}
    assert set(rows) == {0, 1, 2}, "short/null docs must be absent"
    assert rows[0]["n_bigrams"] == 20 * 6 - 1
    assert rows[2]["n_bigrams"] == 49
    assert rows[0]["ppl"] == rows[1]["ppl"], "identical docs must score identically"
    assert rows[0]["ppl"] < rows[2]["ppl"], (
        "repeated-template doc must sit below unique-token noise"
    )
    for r in rows.values():
        assert r["ppl"] >= 1.0 and r["avg_logprob"] <= 0.0


def test_bloom_decon_superset_of_exact_gate(spark, frames):
    """Bloom filters have no false negatives: every doc the exact gate
    flags is bloom-flagged, and each doc's bloom-positive gram count
    is at least its exact shared-gram count."""
    from real_time_fraud_detection_lakehouse_spark.operators.text import TEXT_OPS

    bloom = {
        r["doc_id"]: r["bloom_hits"]
        for r in TEXT_OPS["docs_bloom_decontaminate"][0](frames).collect()
    }
    exact = {
        r["doc_id"]: r["shared_grams"]
        for r in TEXT_OPS["docs_decontaminate"][0](frames).collect()
    }
    assert set(exact) <= set(bloom)
    for d, shared in exact.items():
        assert bloom[d] >= shared, (d, shared, bloom[d])


def test_bloom_decon_planted_recall_and_fp_bound(spark):
    """Heavy-load planted corpus: an eval-copying train doc is always
    flagged (recall = 1 by construction), and over train docs with a
    vocabulary DISJOINT from the eval set the empirical per-doc
    false-positive rate stays under the analytic (1-e^(-kn/m))^k
    per-gram bound times grams-per-doc, with slack."""
    import math
    import random

    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        BLOOM_BITS,
        BLOOM_HASHES,
        DECON_GRAM,
        TEXT_OPS,
    )

    rng = random.Random(7)
    eval_tokens = [f"ev{i}" for i in range(500)]
    clean_tokens = [f"tr{i}" for i in range(500)]  # disjoint vocabulary
    docs = []
    # 400 eval docs x ~96 grams → heavy bloom load (~4e4 distinct grams)
    for i in range(400):
        docs.append((i, " ".join(rng.choices(eval_tokens, k=100)), "en", "src0", 100))
    # one planted leak: a train doc that copies an eval doc verbatim
    docs.append((1000, docs[0][1], "en", "src1", 100))
    # 600 clean train docs from the disjoint vocabulary
    for i in range(600):
        docs.append(
            (2000 + i, " ".join(rng.choices(clean_tokens, k=100)), "en", "src1", 100)
        )
    ddf = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {
        r["doc_id"]: r["bloom_hits"]
        for r in TEXT_OPS["docs_bloom_decontaminate"][0]({"documents": ddf}).collect()
    }
    assert out.get(1000, 0) > 0, "planted eval copy must be bloom-flagged"

    n_eval_grams = (
        400 * (100 - DECON_GRAM + 1)
    )  # upper bound on distinct insertions
    p_gram = (1.0 - math.exp(-BLOOM_HASHES * n_eval_grams / BLOOM_BITS)) ** BLOOM_HASHES
    grams_per_doc = 100 - DECON_GRAM + 1
    p_doc = grams_per_doc * p_gram  # union bound
    fp_docs = sum(1 for d in out if d >= 2000)
    # 600 Bernoulli(p_doc) trials; allow 10x the expectation + 3 absolute
    assert fp_docs <= 600 * p_doc * 10 + 3, (fp_docs, p_doc)


def test_sample_to_budget_hits_token_targets(spark, frames):
    """The sampled cut's per-source token mass concentrates around
    weight_s x budget (the loader contract); rates are in (0, 1];
    the draw is deterministic (same cut twice); and sample membership
    is DECORRELATED from the train/test split hash (different mix
    constants — both splits of the sample stay near the 80/20
    global rate)."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        CURATION_OPS,
        MIX_ALPHA,
        SAMPLE_BUDGET_TOKENS,
    )

    out = CURATION_OPS["docs_sample_to_budget"][0](frames).collect()
    assert out
    again = CURATION_OPS["docs_sample_to_budget"][0](frames).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    totals = {
        r["source"]: r["n_tokens"]
        for r in frames["documents"]
        .groupBy("source")
        .agg(F.sum(F.size(F.split("text", " "))).alias("n_tokens"))
        .collect()
    }
    z = sum(v**MIX_ALPHA for v in totals.values())
    sampled_tokens: dict[str, int] = {}
    for r in out:
        assert 0.0 < r["p_source"] <= 1.0, r
        sampled_tokens[r["source"]] = sampled_tokens.get(r["source"], 0) + r["n_tokens"]
    for src, tot in totals.items():
        target = (tot**MIX_ALPHA / z) * SAMPLE_BUDGET_TOKENS
        got = sampled_tokens.get(src, 0)
        # Bernoulli sum over ~hundreds of docs: 3-sigma-ish band with
        # an absolute floor for tiny targets
        assert abs(got - min(target, tot)) <= max(0.5 * target, 600), (
            src,
            target,
            got,
        )


def test_sample_to_budget_survives_huge_doc_ids_ansi_both_engines(spark, tmp_path):
    """The sampler's uniform draw uses the same reduce-then-multiply
    discipline as the split hash (different Knuth constant): the key
    reduces mod 2^31-1 BEFORE the multiply, so the product stays
    inside int64 for EVERY BIGINT doc_id. Exercised at ids from 2^33
    to Long.MAX, exact per-document assignment equality against the
    registered DuckDB oracle under ANSI in both engines."""
    import duckdb
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        CURATION_OPS,
        docs_sample_to_budget,
    )
    from tests.conftest import compare_frames

    big_ids = [
        2**33,
        2**33 + 1,
        3_470_000_000 + 7,   # the raw-multiply wrap boundary
        2**40 + 123,
        2**52 + 7,
        2**62 + 11,
        9223372036854775807,  # Long.MAX
    ]
    rows = [
        (i, "en", f"src{k % 3}", " ".join(f"tok{j:02d}" for j in range(40)))
        for k, i in enumerate(big_ids)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    ).withColumn("n_chars", F.length("text"))
    pq = str(tmp_path / "documents.parquet")
    docs.toPandas().to_parquet(pq)

    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        out = docs_sample_to_budget({"documents": spark.read.parquet(pq)})
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}')"
        )
        compare_frames(out, con.sql(CURATION_OPS["docs_sample_to_budget"][1]))
        con.close()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_sample_epochs_upsamples_and_hits_targets(spark, frames):
    """At the small-sf corpus the epoch budget exceeds total tokens,
    so at least one source upsamples (epoch >= 1 rows exist) and every
    doc of an upsampling source appears in ALL its whole epochs; the
    per-source sampled token mass concentrates around
    weight_s x budget; the expansion is deterministic."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        CURATION_OPS,
        EPOCH_BUDGET_TOKENS,
        MIX_ALPHA,
    )

    out = CURATION_OPS["docs_sample_epochs"][0](frames).collect()
    assert out
    again = CURATION_OPS["docs_sample_epochs"][0](frames).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    totals = {
        r["source"]: r["n_tokens"]
        for r in frames["documents"]
        .groupBy("source")
        .agg(F.sum(F.size(F.filter(F.split("text", " "), lambda x: x != ""))).alias("n_tokens"))
        .collect()
    }
    z = sum(v**MIX_ALPHA for v in totals.values())
    rates = {s: (v**MIX_ALPHA / z) * EPOCH_BUDGET_TOKENS / v for s, v in totals.items()}
    assert max(rates.values()) > 1.0, "fixture must exercise the upsampling regime"

    sampled: dict[str, int] = {}
    max_epoch: dict[str, int] = {}
    per_doc_epochs: dict[int, int] = {}
    for r in out:
        sampled[r["source"]] = sampled.get(r["source"], 0) + r["n_tokens"]
        max_epoch[r["source"]] = max(max_epoch.get(r["source"], 0), r["epoch"])
        per_doc_epochs[r["doc_id"]] = per_doc_epochs.get(r["doc_id"], 0) + 1
    docs_by_source = {
        r["source"]: r["n"]
        for r in frames["documents"].groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    import math

    for s, rate in rates.items():
        target = rate * totals[s]  # == weight_s * budget
        got = sampled.get(s, 0)
        assert abs(got - target) <= max(0.5 * target, 600), (s, target, got)
        # every doc appears in at least the whole epochs
        if rate >= 1.0:
            assert max_epoch[s] >= math.floor(rate) - 1
    # copies per doc is floor(rate) or floor(rate)+1 of its source
    src_of = {
        r["doc_id"]: r["source"]
        for r in frames["documents"].select("doc_id", "source").collect()
    }
    for d, n in per_doc_epochs.items():
        fl = math.floor(rates[src_of[d]])
        assert n in (fl, fl + 1), (d, n, fl)


# --- round 12: deletion-neighborhood edit-distance join ----------------------
def test_fuzzy_names_planted_recall_precision_and_plan(spark):
    """dedup_fuzzy_names must find EVERY pair within Levenshtein 1 —
    substitution, insertion, deletion, and exact duplicate — through
    the deletion-neighborhood blocking (the FastSS recall implication), pair nothing
    at distance >= 2, and never plan a cartesian/all-pairs join."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        dedup_fuzzy_names,
    )

    rows = [
        (1, "acme corp"),
        (2, "acme c0rp"),      # substitution  -> d(1,2)=1
        (3, "acme corps"),     # insertion     -> d(1,3)=1, d(2,3)=2
        (4, "widgetco"),
        (5, "widgetc"),        # deletion      -> d(4,5)=1
        (6, "zeta"),
        (7, "zeta"),           # exact dup     -> d(6,7)=0
        (8, "unrelated inc"),  # pairs with nothing
        # shares deletion variant 'aab' at distance 2: a candidate the
        # blocking admits and the exact filter must remove (the
        # hypothesis counter-example, pinned end-to-end)
        (9, "aaab"),
        (10, "aaba"),
    ]
    t = {"customer": spark.createDataFrame(rows, "c_custkey long, c_name string")}
    got = {
        (r["custkey_a"], r["custkey_b"]): r["distance"]
        for r in dedup_fuzzy_names(t).collect()
    }
    assert got == {(1, 2): 1, (1, 3): 1, (4, 5): 1, (6, 7): 0}, got
    plan = dedup_fuzzy_names(t)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pmi_ranks_true_collocation_above_chance_pair(spark):
    """Planted corpus: 'new york' always co-occurs (true collocation,
    PMI >> 0); 'the' pairs with everything (chance co-occurrence, PMI
    near 0); sub-threshold pairs never appear."""
    import math

    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        PMI_MIN_COUNT,
        text_collocations_pmi,
    )

    docs = []
    for i in range(10):
        # 'the X' with X varying: 'the' is frequent, each pair spread thin
        filler = f"the w{i} the w{(i+1) % 10}"
        docs.append((i, f"new york {filler} new york {filler}", "s"))
    t = {
        "documents": spark.createDataFrame(
            docs, "doc_id long, text string, source string"
        )
    }
    rows = {(r["w1"], r["w2"]): r for r in text_collocations_pmi(t).collect()}
    assert ("new", "york") in rows
    ny = rows[("new", "york")]
    assert ny["n_pair"] >= PMI_MIN_COUNT
    assert ny["pmi"] > 1.0  # far above chance
    # every 'the w_i' pair is sub-threshold (2 occurrences each) ->
    # absent; 'york the' bridges appear 10 times (above threshold) but
    # with 'the' frequent the PMI sits well below the collocation's
    for (a, b), r in rows.items():
        if "the" in (a, b):
            assert r["pmi"] < ny["pmi"] - 0.5, (a, b, r["pmi"])
    # spot-check the closed form on the collocation itself
    n_tokens = sum(len(d[1].split()) for d in docs)
    n_bigrams = sum(len(d[1].split()) - 1 for d in docs)
    p_pair = ny["n_pair"] / n_bigrams
    p_new = sum(d[1].split().count("new") for d in docs) / n_tokens
    p_york = sum(d[1].split().count("york") for d in docs) / n_tokens
    assert abs(ny["pmi"] - round(math.log(p_pair / (p_new * p_york)), 6)) < 1e-6


def test_fuzzy_canonical_merges_transitive_chain(spark):
    """A~B~C chain (d(A,C)=2) merges into ONE cluster under the min
    canonical — the documented deliberate transitivity — while an
    unrelated name stays out entirely (no singleton rows)."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        dedup_fuzzy_canonical,
    )

    rows = [
        (10, "acme corp"),
        (11, "acme c0rp"),   # ~10 (substitution)
        (12, "acme c00p"),   # ~11 (substitution), d(10,12)=2 -> chain
        (20, "zeta"),
        (21, "zeta"),        # exact dup pair
        (30, "loner industries"),
    ]
    t = {"customer": spark.createDataFrame(rows, "c_custkey long, c_name string")}
    got = {
        r["c_custkey"]: (r["canonical_custkey"], r["cluster_size"])
        for r in dedup_fuzzy_canonical(t).collect()
    }
    assert got == {
        10: (10, 3), 11: (10, 3), 12: (10, 3),
        20: (20, 2), 21: (20, 2),
    }, got


def test_docs_quality_report_planted_violations(spark):
    """Each corpus constraint fires on a planted violation and passes
    on clean rows — including the metadata-consistency check
    (n_chars != length(text), the stale-count lie)."""
    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        CURATION_OPS,
    )

    rows = [
        (1, "good text", "en", "web", 9),
        (1, "   ", "en", "web", 3),        # dup id + whitespace-only text
        (2, "ok", None, "web", 5),          # lang null + stale n_chars (5 != 2)
        (3, "fine", "de", None, 4),         # source null
    ]
    t = {
        "documents": spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    }
    got = {
        r["rule"]: (r["metric"], r["passed"])
        for r in CURATION_OPS["docs_quality_report"][0](t).collect()
    }
    assert got["row_count_min"] == (4, True)
    assert got["doc_id_not_null"] == (0, True)
    assert got["doc_id_unique"] == (1, False)
    assert got["text_not_empty"] == (1, False)
    assert got["n_chars_positive"] == (0, True)
    assert got["n_chars_matches_text"] == (1, False)
    assert got["lang_not_null"] == (1, False)
    assert got["source_not_null"] == (1, False)


def test_fuzzy_canonical_d2_planted_density_audit(spark, duck):
    """r15: d<=2 canonicalization on a planted multi-component graph —
    a 3-chain (A~B~C at d=2 each, d(A,C)=4: merges transitively,
    density 2/3), a 3-clique (pairwise d=1: density 1.0), and an exact
    pair — with hand-computed audit columns. The SAME planted frame is
    then pushed through the DuckDB oracle (star-contraction + closure)
    and compared row-for-row: pins the contraction-based oracle's
    exactness on a graph with several components, a shape the
    single-giant-component testdata never exercises."""
    import pandas as pd

    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        DEDUP_OPS,
        dedup_fuzzy_canonical_d2,
    )
    from tests.conftest import compare_frames

    rows = [
        (10, "aaaaaaaa"),
        (11, "aaaaaabb"),    # d(10,11)=2
        (12, "aaaabbbb"),    # d(11,12)=2, d(10,12)=4 -> chain merge
        (20, "zzzzzzz1"),
        (21, "zzzzzzz2"),    # clique: pairwise d=1
        (22, "zzzzzzz3"),
        (30, "qqqqqqqq"),
        (31, "qqqqqqqq"),    # exact dup pair (d=0)
        (40, "unrelated name"),
    ]
    t = {"customer": spark.createDataFrame(rows, "c_custkey long, c_name string")}
    sdf = dedup_fuzzy_canonical_d2(t)
    got = {
        r["c_custkey"]: (
            r["canonical_custkey"],
            r["cluster_size"],
            r["cluster_edges"],
            r["edge_density"],
        )
        for r in sdf.collect()
    }
    assert got == {
        10: (10, 3, 2, 0.666667), 11: (10, 3, 2, 0.666667), 12: (10, 3, 2, 0.666667),
        20: (20, 3, 3, 1.0), 21: (20, 3, 3, 1.0), 22: (20, 3, 3, 1.0),
        30: (30, 2, 1, 1.0), 31: (30, 2, 1, 1.0),
    }, got

    duck.register(
        "customer",
        pd.DataFrame(rows, columns=["c_custkey", "c_name"]),
    )
    try:
        compare_frames(sdf, duck.sql(DEDUP_OPS["dedup_fuzzy_canonical_d2"][1]))
    finally:
        duck.unregister("customer")


def test_ngram_containment_catches_asymmetric_subset(spark):
    """r15: a short doc quoted whole inside a longer one has
    containment ~1.0 on the short side while Jaccard reads ~|A|/|B| —
    the asymmetric duplication class the op exists for. Planted: B =
    A plus a long suffix (same 4-token prefix bucket), C shares only
    the prefix then diverges (low containment both sides, excluded)."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        CONTAINMENT_MIN,
        dedup_ngram_containment,
        dedup_ngram_jaccard,
    )

    base = "alpha beta gamma delta one two three four five"
    rows = [
        (1, base),
        (2, base + " six seven eight nine ten eleven twelve thirteen "
                    "fourteen fifteen sixteen seventeen eighteen nineteen "
                    "twenty apple banana cherry durian elderberry fig"),
        (3, "alpha beta gamma delta zz yy xx ww vv uu tt ss rr qq pp"),
    ]
    t = {"documents": spark.createDataFrame(rows, "doc_id long, text string")}
    got = {
        (r["doc_a"], r["doc_b"]): (r["containment_a"], r["containment_b"])
        for r in dedup_ngram_containment(t).collect()
    }
    assert (1, 2) in got
    ca, cb = got[(1, 2)]
    assert ca == 1.0 and cb < CONTAINMENT_MIN
    assert (1, 3) not in got and (2, 3) not in got
    # ...and symmetric Jaccard on the same pair sits BELOW the
    # containment threshold — the class this op adds over the Jaccard op
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_ngram_jaccard(t).collect()
    }
    assert jac[(1, 2)] < CONTAINMENT_MIN


def test_containment_global_finds_mid_document_quotes(spark):
    """r16: the prefix-filter containment join has EXACT recall — a
    doc quoted in the MIDDLE of another (different 4-token prefix) is
    invisible to the bucket-blocked op and surfaced here. Planted:
    A quoted mid-B (containment_a 1.0, different prefix — bucket op
    misses, global op finds), D ⊂ E sharing the prefix (both ops
    find, value-identical), C diverges (excluded by both). Boundary:
    F is exactly 80%-contained in G (raw ratio == CONTAINMENT_MIN) —
    the probe budget's rounding slack must keep it."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        CONTAINMENT_MIN,
        dedup_containment_global,
        dedup_ngram_containment,
    )

    quoted = "alpha beta gamma delta one two three four five"
    rows = [
        (1, quoted),
        # B wraps the quote in UNRELATED lead-in text: different
        # 4-token prefix, every gram of A still present
        (2, "intro words come first here " + quoted + " trailing text "
            "apple banana cherry durian elderberry fig grape"),
        (3, "alpha beta gamma delta zz yy xx ww vv uu tt ss rr qq pp"),
        # D ⊂ E with the SAME prefix: both ops must agree on values
        (4, "red orange yellow green blue indigo violet"),
        (5, "red orange yellow green blue indigo violet pink brown "
            "black white cyan magenta teal olive navy maroon"),
        # F: 12 tokens -> 10 grams; the 8 over w01..w10 are in G, the
        # 2 crossing into qqa/qqb are not -> containment exactly 0.8
        (6, "w01 w02 w03 w04 w05 w06 w07 w08 w09 w10 qqa qqb"),
        (7, "w01 w02 w03 w04 w05 w06 w07 w08 w09 w10 w11 w12 w13 "
            "w14 w15 w16 w17 w18"),
    ]
    t = {"documents": spark.createDataFrame(rows, "doc_id long, text string")}
    got = {
        (r["doc_a"], r["doc_b"]): (r["containment_a"], r["containment_b"])
        for r in dedup_containment_global(t).collect()
    }
    bucketed = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ngram_containment(t).collect()
    }
    # the mid-document quote: found globally, missed by the bucket op
    assert (1, 2) in got and got[(1, 2)][0] == 1.0
    assert (1, 2) not in bucketed
    # the shared-prefix subset: both find it, same values
    assert (4, 5) in got and (4, 5) in bucketed
    assert got[(4, 5)][0] == 1.0 and got[(4, 5)][1] < CONTAINMENT_MIN
    # divergent doc excluded everywhere
    assert not any(3 in p for p in got)
    # exact-boundary pair kept (8/10 = 0.8 == MIN after rounding)
    assert (6, 7) in got and got[(6, 7)][0] == CONTAINMENT_MIN


def test_containment_global_apply_drops_mid_document_class(spark):
    """r16: the global apply's survivor delta vs the bucketed apply is
    exactly the mid-document containment class — doc 1 (quoted mid-2,
    different prefix) survives the bucketed apply and is dropped by
    the global one; every other decision agrees (shared drop rule)."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        docs_dedup_containment_apply,
        docs_dedup_containment_global_apply,
    )

    quoted = "alpha beta gamma delta one two three four five"
    rows = [
        (1, quoted),
        (2, "intro words come first here " + quoted + " trailing text "
            "apple banana cherry durian elderberry fig grape"),
        # same-prefix subset: BOTH applies drop the contained doc 4
        (4, "red orange yellow green blue indigo violet"),
        (5, "red orange yellow green blue indigo violet pink brown "
            "black white cyan magenta teal olive navy maroon"),
        (6, " ".join(f"new{i:02d}" for i in range(25))),  # untouched
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", F.lit("en").alias("lang"), F.lit("web").alias("source"),
        "text",
    ).withColumn("n_chars", F.length("text"))
    t = {"documents": docs}
    bucketed = {r["doc_id"] for r in docs_dedup_containment_apply(t).collect()}
    global_ = {
        r["doc_id"] for r in docs_dedup_containment_global_apply(t).collect()
    }
    assert bucketed == {1, 2, 5, 6}  # misses the mid-doc quote
    assert global_ == {2, 5, 6}      # catches it
    assert bucketed - global_ == {1}


def test_containment_by_source_directionality(spark):
    """r16: the cross-source rollup is DIRECTED — contained_src is
    the source of the doc living inside the other. Planted: a wiki
    doc quoted mid-web-doc yields exactly (wiki -> web); a mutual
    near-equal pair across sources counts once in EACH direction."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        docs_containment_by_source,
    )

    quoted = "alpha beta gamma delta one two three four five"
    near = " ".join(f"m{i:02d}" for i in range(20))
    rows = [
        (1, "wiki", quoted),
        (2, "web", "intro words come first here " + quoted + " trailing "
            "text apple banana cherry durian elderberry fig grape"),
        (3, "wiki", near),
        (4, "web", near + " tail"),  # mutual: both sides >= 0.8
        (5, "web", " ".join(f"z{i:02d}" for i in range(15))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string").select(
        "doc_id", F.lit("en").alias("lang"), "source", "text"
    ).withColumn("n_chars", F.length("text"))
    got = {
        (r["contained_src"], r["container_src"]): r["n_pairs"]
        for r in docs_containment_by_source({"documents": docs}).collect()
    }
    assert got[("wiki", "web")] == 2  # the quote + the mutual one way
    assert got[("web", "wiki")] == 1  # the mutual, other direction
    assert set(got) == {("wiki", "web"), ("web", "wiki")}


def test_containment_global_shared_surface_equals_recompute(spark):
    """r17 (r16 verdict #3): the three global-containment entries read
    ONE session-shared persisted pair stream (the _HUB_SHARED
    discipline). Pin (a) the share is per-documents-frame —
    core.catalog.table() memoization makes every entry over one
    testdata dir hit the same cached object, (b) the shared frame is
    row-identical to the un-shared build (compute-on-miss IS the
    fallback), and (c) a different documents frame gets its own
    entry, never a stale one."""
    from real_time_fraud_detection_lakehouse_spark.core.catalog import (
        TESTDATA_TABLES,
        table,
    )
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        _containment_global_build,
        dedup_containment_global,
    )

    t = {name: table(spark, SF_SMALL, name) for name in TESTDATA_TABLES}
    s1 = dedup_containment_global(t)
    s2 = dedup_containment_global(
        {name: table(spark, SF_SMALL, name) for name in TESTDATA_TABLES}
    )
    assert s1 is s2  # same persisted object per documents frame

    fresh = _containment_global_build(t)
    assert {tuple(r) for r in s1.collect()} == {tuple(r) for r in fresh.collect()}

    other = t["documents"].limit(3)
    s3 = dedup_containment_global({**t, "documents": other})
    assert s3 is not s1


def test_containment_apply_drops_contained_keeps_container(spark):
    """r15: the containment-apply drop rule on a planted chain —
    A ⊂ B (strict: drop A, keep B), C == C' mutual near-equal (keep
    min id), D unrelated (survives). The container of a dropped doc
    survives unless itself contained."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        docs_dedup_containment_apply,
    )

    base = "alpha beta gamma delta one two three four five"
    rows = [
        (1, base, "en", "web", 10),
        (2, base + " six seven eight nine ten eleven twelve thirteen "
                    "fourteen fifteen sixteen seventeen eighteen nineteen "
                    "twenty apple banana cherry durian elderberry fig",
         "en", "web", 20),
        (3, "zz yy xx ww vv uu tt ss rr qq", "en", "web", 30),
        (4, "zz yy xx ww vv uu tt ss rr qq", "en", "books", 40),
        (5, "completely different text with no overlap at all here",
         "en", "web", 50),
    ]
    t = {
        "documents": spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    }
    kept = {r["doc_id"] for r in docs_dedup_containment_apply(t).collect()}
    assert kept == {2, 3, 5}, kept
