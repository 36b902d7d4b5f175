"""Property-based tests (hypothesis) for the feature library's
algebraic invariants — driven through Spark so the JVM expressions
themselves are under test, batched per property for speed."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from real_time_fraud_detection_lakehouse_spark.functions import features as feat
from real_time_fraud_detection_lakehouse_spark.sources.transactions import dround

COORD = st.tuples(
    st.floats(min_value=-85, max_value=85),
    st.floats(min_value=-179, max_value=179),
)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(COORD, COORD), min_size=1, max_size=20))
def test_haversine_symmetry_and_bounds(spark, pairs):
    rows = [(a[0], a[1], b[0], b[1]) for a, b in pairs]
    df = spark.createDataFrame(rows, "lat1 double, lon1 double, lat2 double, lon2 double")
    out = df.select(
        feat.haversine_km(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("ab"),
        feat.haversine_km(F.col("lat2"), F.col("lon2"), F.col("lat1"), F.col("lon1")).alias("ba"),
    ).collect()
    for r in out:
        assert abs(r["ab"] - r["ba"]) < 1e-6          # symmetric
        assert -1e-9 <= r["ab"] <= 6371 * math.pi + 1  # bounded by half circumference


@settings(max_examples=10, deadline=None)
@given(st.lists(st.floats(min_value=0, max_value=10_000, allow_nan=False), min_size=1, max_size=50))
def test_amount_bin_monotone(spark, amts):
    df = spark.createDataFrame([(a,) for a in sorted(amts)], "amt double")
    bins = [r["b"] for r in df.select(feat.amount_bin(F.col("amt")).alias("b")).collect()]
    assert bins == sorted(bins)          # monotone in amount
    assert all(1 <= b <= 5 for b in bins)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1, max_size=50))
def test_dround_idempotent_and_close(spark, xs):
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    out = df.select(
        dround(F.col("x"), 6).alias("r1"),
        dround(dround(F.col("x"), 6), 6).alias("r2"),
        F.col("x"),
    ).collect()
    for r in out:
        assert r["r1"] == r["r2"]                  # idempotent
        assert abs(r["r1"] - r["x"]) <= 5.0e-7 + 1e-12  # within half step


@settings(max_examples=5, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=23), min_size=1, max_size=24))
def test_risk_level_total_and_ordered(spark, hours):
    df = spark.createDataFrame([(float(h * 100), float(h)) for h in hours], "amt double, hour double")
    score = feat.rule_fraud_score(F.col("amt"), F.lit(0.0), F.col("hour"), F.lit(40))
    out = df.select(score.alias("s"), feat.risk_level(score).alias("lvl")).collect()
    for r in out:
        assert 0.0 <= r["s"] <= 1.0
        expected = "HIGH" if r["s"] > 0.7 else ("MEDIUM" if r["s"] > 0.4 else "LOW")
        assert r["lvl"] == expected


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Distributed min-label propagation ≡ sequential union-find on
    arbitrary random graphs (self-loops and parallel edges included)."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        connected_components,
    )

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    # min-label propagation labels by the minimum node id; path-halving
    # union-find with min-root union does the same
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=40), min_size=1, max_size=6
    )
)
def test_text_chunks_cover_and_bound(spark, texts):
    """For arbitrary documents: every chunk holds <= CHUNK_TOKENS
    tokens, chunk indexes are dense from 0, and stitching
    non-overlapping prefixes reconstructs each document's tokens."""
    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        text_chunks,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    by_doc: dict[int, list] = {}
    for r in text_chunks({"documents": docs}).collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in enumerate(texts):
        toks = [w for w in t.split(" ") if w]
        rows = sorted(by_doc.get(i, []), key=lambda r: r["chunk_index"])
        assert [r["chunk_index"] for r in rows] == list(range(len(rows)))
        assert rows, "every doc emits at least one (possibly empty) chunk"
        for r in rows:
            assert r["chunk_tokens"] <= CHUNK_TOKENS
        chunks = [r["chunk_text"].split(" ") if r["chunk_text"] else [] for r in rows]
        stitched = chunks[0] + [
            w for c in chunks[1:] for w in c[CHUNK_TOKENS - CHUNK_STRIDE :]
        ]
        assert stitched == toks


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.sampled_from("ABC"), st.integers(0, 3)),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    st.lists(
        st.tuples(st.integers(0, 35), st.sampled_from("ABC"), st.integers(0, 3)),
        min_size=0,
        max_size=15,
        unique_by=lambda t: t[0],
    ),
)
def test_scd2_apply_invariants(spark, base_rows, update_rows):
    """SCD2 structural invariants under arbitrary batches: exactly one
    open row per surviving key, closed rows carry the effective ts,
    open-row values reflect the update iff it changed something, and
    total history size = base + changed + new keys."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.plans.incremental import scd2_apply

    base = spark.createDataFrame(
        base_rows, "k int, seg string, val int"
    ).withColumn("valid_from", F.lit("1990-01-01").cast("timestamp"))
    updates = spark.createDataFrame(update_rows, "k int, seg string, val int")
    hist = scd2_apply(base, updates, "k", ["seg", "val"], "2000-01-01 00:00:00").collect()

    base_map = {r[0]: (r[1], r[2]) for r in base_rows}
    upd_map = {r[0]: (r[1], r[2]) for r in update_rows}
    changed = {k for k, v in upd_map.items() if k in base_map and v != base_map[k]}
    new_keys = {k for k in upd_map if k not in base_map}

    open_rows = [r for r in hist if r["is_current"]]
    closed_rows = [r for r in hist if not r["is_current"]]
    assert len(hist) == len(base_map) + len(changed) + len(new_keys)
    assert sorted(r["k"] for r in open_rows) == sorted(set(base_map) | new_keys)
    assert sorted(r["k"] for r in closed_rows) == sorted(changed)
    for r in closed_rows:
        assert r["valid_to"] is not None
        assert (r["seg"], r["val"]) == base_map[r["k"]]
    for r in open_rows:
        assert r["valid_to"] is None
        k = r["k"]
        expect = upd_map[k] if (k in changed or k in new_keys) else base_map[k]
        assert (r["seg"], r["val"]) == expect


# --- ExactSubstr span dedup vs a pure-Python reference ----------------------
def _ref_dup_spans(texts: list[str], w: int) -> dict[int, list[tuple[int, int]]]:
    """Reference implementation of docs_dup_spans' definition: maximal
    merged ranges of w-token windows whose window occurs in >1 doc."""
    toks = [[t for t in s.split(" ") if t] for s in texts]
    owners: dict[tuple, set] = {}
    for d, ts in enumerate(toks):
        for i in range(max(len(ts) - w + 1, 0)):
            owners.setdefault(tuple(ts[i : i + w]), set()).add(d)
    spans: dict[int, list[tuple[int, int]]] = {}
    for d, ts in enumerate(toks):
        flagged = [
            i
            for i in range(max(len(ts) - w + 1, 0))
            if len(owners[tuple(ts[i : i + w])]) > 1
        ]
        merged: list[list[int]] = []
        for i in flagged:
            if merged and i <= merged[-1][1] + 1:
                merged[-1][1] = max(merged[-1][1], i + w - 1)
            else:
                merged.append([i, i + w - 1])
        if merged:
            spans[d] = [(a, b) for a, b in merged]
    return spans


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=0, max_size=30
        ).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_exact_substr_spans_match_reference(spark, texts):
    """docs_dup_spans over random tiny-alphabet corpora (dense genuine
    cross-doc duplication) agrees exactly with the brute-force Python
    reference of the same definition."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        SUBSTR_W,
        docs_dup_spans,
    )

    frames = {
        "documents": spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    }
    got: dict[int, list[tuple[int, int]]] = {}
    for r in docs_dup_spans(frames).collect():
        got.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    for d in got:
        got[d].sort()
    assert got == _ref_dup_spans(texts, SUBSTR_W)


# --- BPE trainer vs a pure-Python reference ---------------------------------
def _ref_bpe(texts: list[str], n_merges: int) -> list[tuple[str, str, str, int]]:
    """Reference BPE: word-count table, count-desc/pair-asc tie-break,
    left-to-right non-overlapping merge application."""
    from collections import Counter

    wc = Counter(t for s in texts for t in s.split(" ") if t)
    words = {w: list(w) + ["</w>"] for w in wc}
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += wc[w]
        if not pairs:
            break
        (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r, l + r, cnt))
        for w, syms in words.items():
            out: list[str] = []
            for x in syms:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            words[w] = out
    return merges


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["ab", "abc", "ba", "cab", "bc", "aa"]),
            min_size=1,
            max_size=15,
        ).map(" ".join),
        min_size=1,
        max_size=4,
    )
)
def test_bpe_trainer_matches_reference(spark, texts):
    """bpe_train over random corpora from a tiny word set (dense pair
    ties — the tie-break is where implementations diverge) equals the
    brute-force reference merge-for-merge."""
    from real_time_fraud_detection_lakehouse_spark.operators.text import bpe_train

    frames_df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = [
        (r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_train(frames_df, n_merges=4).collect()
    ]
    assert got == _ref_bpe(texts, 4)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=400),
    st.integers(min_value=2, max_value=8),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=1, max_value=5),
)
def test_misra_gries_kernel_matches_reference(keys, capacity, n_parts, batch):
    """The MG kernel under this round's two top-K ops, checked against
    a brute-force Counter on random streams at tiny capacities (where
    violations would be easy to find):

    - single summary (one partition, arbitrary Arrow-batch splits):
      every surviving counter is a positive LOWER bound of the true
      count, the under-count never exceeds n/(capacity+1), and every
      key with true count > n/(capacity+1) survives;
    - two-level pipeline (partition summaries -> summed counters ->
      top-capacity candidates, the _mg_candidates shape): every key
      with global count > 2n/(capacity+1) is a candidate.
    """
    from collections import Counter

    import pandas as pd

    from real_time_fraud_detection_lakehouse_spark.operators.text import _mg_add

    stream = [f"k{i:02d}" for i in keys]
    true = Counter(stream)
    n = len(stream)

    def summary(part):
        s = pd.Series(dtype="float64")
        for i in range(0, len(part), batch):
            s = _mg_add(s, pd.Series(part[i : i + batch]).value_counts(), capacity)
        return s

    # --- single-summary guarantees --------------------------------------
    s = summary(stream)
    assert len(s) <= capacity
    bound = n / (capacity + 1)
    for key, counter in s.items():
        assert 0 < counter <= true[key], (key, counter, true[key])
        assert true[key] - counter <= bound
    for key, cnt in true.items():
        if cnt > bound:
            assert key in s.index, (key, cnt, bound, dict(s))
        else:
            assert true[key] <= bound or key in s.index

    # --- two-level pipeline (the _mg_candidates shape) -------------------
    cut = max(1, len(stream) // n_parts)
    parts = [stream[i : i + cut] for i in range(0, len(stream), cut)]
    merged: Counter = Counter()
    for part in parts:
        for key, counter in summary(part).items():
            merged[key] += int(counter)
    cands = sorted(merged, key=lambda k: (-merged[k], k))[:capacity]
    for key, cnt in true.items():
        if cnt > 2 * n / (capacity + 1):
            assert key in cands, (key, cnt, n, capacity, cands)


# --- image-kernel invariants (pure Python + numpy — no Spark round-trip,
# so these run at full hypothesis example counts) ----------------------------

_DIM = st.integers(min_value=1, max_value=24)


def _rand_img(rng_seed: int, h: int, w: int):
    import numpy as np

    return np.random.RandomState(rng_seed).randint(0, 256, (h, w)).astype(np.uint8)


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**31 - 1), _DIM, _DIM)
def test_png_pixel_roundtrip_any_dims(seed, h, w):
    """encode_png_pixels → decode_png_pixels is the identity for every
    uint8 matrix at any dims (including sub-8-pixel and 1-pixel)."""
    from real_time_fraud_detection_lakehouse_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png_pixels,
    )

    img = _rand_img(seed, h, w)
    out = decode_png_pixels(encode_png_pixels(img))
    assert out is not None and out.shape == img.shape and (out == img).all()


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**31 - 1), _DIM, _DIM)
def test_area_resample_identity_and_bounds(seed, h, w):
    """Identity at equal dims; any downsample stays inside the source
    value range (means of blocks cannot escape [min, max])."""
    from real_time_fraud_detection_lakehouse_spark.operators.multimodal import (
        area_resample,
    )

    img = _rand_img(seed, h, w)
    assert (area_resample(img, w, h) == img).all()
    ow, oh = max(1, w // 2), max(1, h // 2)
    small = area_resample(img, ow, oh)
    assert small.shape == (oh, ow)
    assert small.min() >= img.min() and small.max() <= img.max() + 1  # +1: 0.5 rounding


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**31 - 1), _DIM, _DIM, st.integers(1, 60))
def test_ahash_brightness_shift_invariant(seed, h, w, shift):
    """aHash thresholds each cell against the grid MEAN, so a constant
    brightness shift (no clipping) cannot change any bit — the
    invariance that makes it a perceptual hash rather than a checksum.
    Holds at every dimension, including the sub-8px overlap grid."""
    import numpy as np

    from real_time_fraud_detection_lakehouse_spark.operators.multimodal import ahash64

    img = _rand_img(seed, h, w)
    capped = np.minimum(img, 255 - shift).astype(np.uint8)  # headroom for the shift
    shifted = (capped + shift).astype(np.uint8)
    assert ahash64(capped) == ahash64(shifted)


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet="ab", max_size=5),
    st.text(alphabet="ab", max_size=5),
)
def test_deletion_neighborhood_blocking_iff(a, b):
    """The FastSS implication dedup_fuzzy_names' recall rests on:
    Levenshtein distance ≤ 1 IMPLIES {s} ∪ {s minus one char}
    intersect (equality shares the identity variant, a substitution
    shares the same-position deletion, an indel's deletion IS the
    shorter string). The converse is FALSE — hypothesis found
    ('aaab','aaba'): shared variant 'aab', distance 2 — which is
    exactly why the operator verifies candidates with the exact
    levenshtein filter (blocking buys recall, the filter restores
    precision). Tiny alphabet + short strings exhaust the collision
    space; pure-Python mirror of the Spark variant expression."""

    def lev(x, y):
        prev = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            cur = [i]
            for j, cy in enumerate(y, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (cx != cy))
                )
            prev = cur
        return prev[-1]

    def variants(s):
        return {s} | {s[:i] + s[i + 1 :] for i in range(len(s))}

    if lev(a, b) <= 1:
        assert variants(a) & variants(b), "recall hole: candidate pair missed"
    # precision-side regression pin for the converse counter-example
    assert lev("aaab", "aaba") == 2 and (variants("aaab") & variants("aaba"))


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet="ab", max_size=6),
    st.text(alphabet="ab", max_size=6),
)
def test_deletion_neighborhood_depth2_blocking(a, b):
    """The depth-2 FastSS implication dedup_fuzzy_names_d2 rests on:
    lev ≤ 2 IMPLIES the depth-≤2 deletion neighborhoods intersect
    (delete from each side the ≤2 positions its half of the edit
    script touches; the remainders coincide). The converse is FALSE
    — 'xyab' and 'abxy' share the variant 'ab' at distance 4 — which
    is why the operator keeps the exact levenshtein ≤ 2 verify after
    the variant join. Pure-Python mirror of deletion_variants2."""

    def lev(x, y):
        prev = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            cur = [i]
            for j, cy in enumerate(y, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (cx != cy))
                )
            prev = cur
        return prev[-1]

    def v2(s):
        d1 = {s[:i] + s[i + 1 :] for i in range(len(s))}
        d2 = {
            s[:i] + s[i + 1 : j] + s[j + 1 :]
            for i in range(len(s))
            for j in range(i + 1, len(s))
        }
        return {s} | d1 | d2

    if lev(a, b) <= 2:
        assert v2(a) & v2(b), "depth-2 recall hole: candidate pair missed"
    # converse counter-example: shared depth-2 variant at distance 4
    assert lev("xyab", "abxy") == 4 and ("ab" in (v2("xyab") & v2("abxy")))


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.floats(min_value=1.0, max_value=1e9, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=60,
    )
)
def test_quantile_sketch_band_holds_for_arbitrary_values(spark, vals):
    """The sketch's error contract, adversarially: for ANY positive
    value set, each p-estimate is the midpoint of the bucket holding
    the ceil(p*N)-th order statistic, so it sits within 0.5% relative
    of that order statistic (bucket half-width 0.5/sig <= 0.5/100) —
    the provable band the docstring claims."""
    import math

    from real_time_fraud_detection_lakehouse_spark.plans.relational import RELATIONAL

    t = {
        "orders": spark.createDataFrame(
            [(i, "K", v) for i, v in enumerate(vals)],
            "o_orderkey long, o_orderpriority string, o_totalprice double",
        )
    }
    out = RELATIONAL["q_price_quantile_sketch"][0](t).collect()[0]
    n = len(vals)
    s = sorted(vals)
    assert out["n_rows"] == n
    for lbl, p in (("p25", 0.25), ("p50", 0.50), ("p75", 0.75), ("p95", 0.95)):
        order_stat = s[max(0, math.ceil(p * n) - 1)]
        est = out[f"{lbl}_est"]
        assert abs(est - order_stat) <= 0.005 * order_stat + 1e-9, (
            lbl, est, order_stat, vals
        )


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.floats(min_value=1.0, max_value=1e9, allow_nan=False, allow_infinity=False),
        min_size=2,
        max_size=40,
    ),
    st.integers(min_value=1, max_value=5),
)
def test_quantile_sketch_merge_invariant_for_arbitrary_splits(spark, vals, mod):
    """Mergeability, adversarially: sketching ANY partition of the
    rows and summing histograms equals sketching the whole —
    bit-identical, for arbitrary split keys (count-sum commutes)."""
    from functools import reduce

    from real_time_fraud_detection_lakehouse_spark.plans.relational import (
        qsk_finalize,
        qsk_histogram,
    )

    df = spark.createDataFrame(
        [(i, "K", v) for i, v in enumerate(vals)],
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    )
    whole = sorted(tuple(r) for r in qsk_finalize(qsk_histogram(df)).collect())
    parts = [df.filter(F.col("o_orderkey") % mod == i) for i in range(mod)]
    hists = [qsk_histogram(p) for p in parts]
    merged_hist = (
        reduce(lambda a, b: a.unionByName(b), hists)
        .groupBy("grp", "d", "sig")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    merged = sorted(tuple(r) for r in qsk_finalize(merged_hist).collect())
    assert merged == whole


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=40,
    )
)
def test_star_contracted_closure_equals_plain_closure(pairs):
    """r15: the d2 canonicalization oracle runs ONE star-contraction
    round (n -> min(n, min neighbor)) before its recursive closure.
    Property, on random graphs: the contracted form computes EXACTLY
    the plain reach-set closure's (node -> min-of-component) map —
    the component minimum maps to itself under contraction and
    inter-star edges survive, so no merge is lost and no extra merge
    appears. Pure DuckDB (both forms), no Spark."""
    import duckdb

    norm = sorted({(min(a, b), max(a, b)) for a, b in pairs})
    duck = duckdb.connect()
    values = ", ".join(f"({a}, {b})" for a, b in norm)
    duck.execute(
        f"CREATE TABLE fp AS SELECT * FROM (VALUES {values}) t(custkey_a, custkey_b)"
    )
    plain = dict(
        duck.sql("""
        WITH RECURSIVE fedges AS (
          SELECT custkey_a AS a, custkey_b AS b FROM fp
          UNION SELECT custkey_b, custkey_a FROM fp
        ),
        fnodes AS (SELECT DISTINCT a AS n FROM fedges),
        freach(n, m) AS (
          SELECT n, n FROM fnodes
          UNION SELECT r.n, e.b FROM freach r JOIN fedges e ON r.m = e.a
        )
        SELECT n, MIN(m) FROM freach GROUP BY n
        """).fetchall()
    )
    contracted = dict(
        duck.sql("""
        WITH RECURSIVE fedges AS (
          SELECT custkey_a AS a, custkey_b AS b FROM fp
          UNION SELECT custkey_b, custkey_a FROM fp
        ),
        fstar AS (
          SELECT a AS n, LEAST(a, MIN(b)) AS lab FROM fedges GROUP BY a
        ),
        cedges AS (
          SELECT DISTINCT sa.lab AS a, sb.lab AS b
          FROM fedges e
          JOIN fstar sa ON sa.n = e.a
          JOIN fstar sb ON sb.n = e.b
          WHERE sa.lab <> sb.lab
        ),
        cnodes AS (SELECT DISTINCT a AS n FROM cedges),
        creach(n, m) AS (
          SELECT n, n FROM cnodes
          UNION SELECT r.n, e.b FROM creach r JOIN cedges e ON r.m = e.a
        ),
        ccomp AS (SELECT n, MIN(m) AS root FROM creach GROUP BY n)
        SELECT s.n, COALESCE(c.root, s.lab)
        FROM fstar s LEFT JOIN ccomp c ON c.n = s.lab
        """).fetchall()
    )
    duck.close()
    assert contracted == plain


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=7), min_size=0, max_size=12),
        min_size=2,
        max_size=10,
    )
)
def test_containment_prefix_filter_matches_brute_force(spark, token_lists):
    """r16: the prefix-filter recall theorem under adversarial random
    corpora — tiny token alphabet (forced gram collisions), repeated
    tokens, sub-3-token docs, boundary-grazing ratios. The bounded
    plan (rarest-gram probes ⋈ postings + exact verify) must emit
    EXACTLY the brute-force all-pairs relation computed from the same
    gram projection; any missed pair falsifies the probe-budget
    argument, any extra pair the verify."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        CONTAINMENT_MIN,
        _gram_projection,
        dedup_containment_global,
    )

    rows = [
        (i, " ".join(f"t{tok}" for tok in toks))
        for i, toks in enumerate(token_lists)
    ]
    t = {"documents": spark.createDataFrame(rows, "doc_id long, text string")}
    got = {
        (r["doc_a"], r["doc_b"]): (r["containment_a"], r["containment_b"])
        for r in dedup_containment_global(t).collect()
    }

    docs = _gram_projection(t).select("doc_id", "grams")
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    brute = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter((F.size("ga") > 0) & (F.size("gb") > 0))
        .select(
            "doc_a",
            "doc_b",
            dround(inter.cast("double") / F.size("ga")).alias("ca"),
            dround(inter.cast("double") / F.size("gb")).alias("cb"),
        )
        .filter(F.greatest(F.col("ca"), F.col("cb")) >= CONTAINMENT_MIN)
    )
    expected = {
        (r["doc_a"], r["doc_b"]): (r["ca"], r["cb"]) for r in brute.collect()
    }
    assert got == expected
