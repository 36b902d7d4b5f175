"""Deduplication operators over ``documents``: exact, n-gram Jaccard,
MinHash-LSH, SimHash.

Scale design (the part that matters at 100 TB):

- **exact**: hash-groupBy on a fingerprint — one shuffle keyed on the
  md5; map-side partial agg collapses most groups before shuffle.
- **ngram-jaccard**: candidate pairs only *within* a prefix bucket
  (never all-pairs): self-join keyed on a cheap bucket fingerprint,
  then exact Jaccard on the candidates. Bucket key cardinality keeps
  the join fan-out bounded.
- **minhash-lsh**: shingles → K minhashes (xxhash64 with K seeds) →
  B bands of R rows; documents sharing any band bucket become
  candidate pairs (standard banding: P(candidate) ≈ 1-(1-j^R)^B).
  The only shuffle is the band-bucket groupBy — never a cross join.
- **simhash**: 64-bit signature via per-token hash bit-voting; near
  dups = signatures within Hamming distance d, candidate-paired on
  signature bands.

MinHash/SimHash use engine-specific hash functions (xxhash64), so
they register rows-only (no DuckDB oracle); their accuracy is
validated in tests/test_llm_ops.py against exact Jaccard ground truth.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_time_fraud_detection_lakehouse_spark.core.catalog import spread_small_input
from real_time_fraud_detection_lakehouse_spark.core.shared import shared
from real_time_fraud_detection_lakehouse_spark.sources.transactions import dround, dround_sql

Frames = dict[str, DataFrame]
DEDUP_OPS: dict[str, tuple[Callable[[Frames], DataFrame], str | None]] = {}


def _register(name: str, sql: str | None):
    def deco(fn):
        DEDUP_OPS[name] = (fn, sql)
        return fn

    return deco


_TOKENS = "list_filter(string_split(text, ' '), x -> x <> '')"


def _tokens(col="text"):
    return F.filter(F.split(F.col(col), " "), lambda x: x != "")


def fp_col(col: str = "text") -> F.Column:
    """The exact-duplicate fingerprint — md5 of the lowercase-trimmed
    text — as ONE definition shared by every exact gate (recompute op,
    corpus index build, maintained gate, streaming ingest gate). If a
    normalization change lands in one site but not another, the
    published ``corpus_fps`` silently stops matching the gate's fp and
    every corpus twin is admitted — so the expression is named once
    (round-11 self-review), the same one-definition idiom as
    ``gram_cols``."""
    return F.md5(F.lower(F.trim(F.col(col))))


def near_pair_cond(a_grams: F.Column, b_grams: F.Column) -> F.Column:
    """The near-dup PAIR predicate — non-empty gram union AND exact
    n-gram Jaccard >= CLUSTER_JACCARD (dround'ed, the oracle
    discipline) — shared by the recompute ingest gate, the maintained
    gate, and the streaming gate's join condition, so a threshold or
    guard change cannot land in one path only (their agreement IS the
    twin contract). Join-key (bucket) equality and id ordering stay at
    the call sites: they differ between frame-join and stream-static
    shapes."""
    inter = F.size(F.array_intersect(a_grams, b_grams))
    union = F.size(a_grams) + F.size(b_grams) - inter
    return (F.size(a_grams) + F.size(b_grams) > 0) & (
        dround(inter.cast("double") / union) >= CLUSTER_JACCARD
    )


def containment_gate_cond(a_grams: F.Column, c_grams: F.Column) -> F.Column:
    """The CONTAINMENT gate predicate (r16): the arrival side's gram
    set is >= CONTAINMENT_MIN contained in a corpus mate's — both
    sides non-empty (the batch op's 0/0 guard) and the ratio dround'ed
    BEFORE the compare (the boundary discipline), asymmetric BY
    DESIGN: an ingest gate drops the arrival when the ARRIVAL is the
    contained side (the batch apply's contained-side-loses rule with
    the corpus as the smaller-id side); a corpus doc contained in an
    arrival is the nightly pass's business, not the gate's. One
    definition shared by the streaming gate's join condition and any
    batch recompute twin — the ``near_pair_cond`` discipline."""
    inter = F.size(F.array_intersect(a_grams, c_grams))
    return (
        (F.size(a_grams) > 0)
        & (F.size(c_grams) > 0)
        & (dround(inter.cast("double") / F.size(a_grams)) >= CONTAINMENT_MIN)
    )


def gram_cols() -> dict[str, F.Column]:
    """Stage-ONE of the candidate-pair projection as COLUMN
    EXPRESSIONS over a ``text`` column — {"bucket": 4-token-prefix
    xxhash64, "th": per-token xxhash64 array} — shared by the batch
    ``_gram_projection`` and the streaming ingest gate (the one-
    definition idiom from functions/features.py: batch and stream
    CANNOT drift on what counts as a near-dup candidate). Select these
    FIRST (one tokenize+hash per row), then ``grams_from_th`` over the
    NAMED th column: higher-order lambdas are interpreted per element,
    so inlining the token chain into the 3-gram transform would
    re-tokenize per gram position. Pure column math (no shuffle, no
    state), so both stages drop into a streaming select unchanged."""
    toks = _tokens()
    return {
        "bucket": F.xxhash64(F.array_join(F.slice(toks, 1, 4), " ")),
        "th": F.transform(toks, lambda x: F.xxhash64(x)),
    }


def grams_from_th(col: str = "th") -> F.Column:
    """Stage-TWO: the distinct chained-xxhash64 3-gram array from a
    MATERIALIZED per-token hash column (see ``gram_cols``). <3-token
    docs get an explicit empty-grams branch: sequence(1, size-2) would
    DESCEND there and slice() throws under ANSI."""
    return F.when(
        F.size(F.col(col)) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(F.col(col)) - 2),
                lambda i: F.xxhash64(
                    F.element_at(F.col(col), i),
                    F.element_at(F.col(col), i + 1),
                    F.element_at(F.col(col), i + 2),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _gram_projection(t: Frames) -> DataFrame:
    """(doc_id, bucket, grams) — the shared candidate-pair projection:
    a 4-token-prefix bucket key (8-byte hash; join semantics identical
    to the oracle's md5 bucket — both encode prefix equality — but the
    shuffle key is 4x smaller) and the distinct hashed 3-gram set
    (chained per-token xxhash64: tokens hash once, one
    xxhash64(l1,l2,l3) per position — the round-7 shingle fix,
    measured 12x at a 100x corpus; |intersect(h(A), h(B))| ==
    |intersect(A, B)| while the composite hash stays injective on the
    observed grams, collision odds ~n²/2⁶⁵, so the string-based DuckDB
    oracle is unchanged and exact). <3-token docs get an explicit
    empty-grams branch: sequence(1, size-2) would DESCEND there and
    slice() throws under ANSI; DuckDB's range(1, len-1) is empty.

    Lazily localCheckpointed: both sides of any candidate join read
    the materialized blocks instead of recomputing tokenize+gram+hash
    per side (measured 3.6 s vs 2.1 s at sf0.1 — viable only with
    hashed-long grams; the string-gram projection was as expensive to
    materialize as to recompute, the r5 rejection)."""
    stage1 = gram_cols()
    docs = (
        spread_small_input(t["documents"])
        .select(
            "doc_id",
            stage1["bucket"].alias("bucket"),
            stage1["th"].alias("th"),
        )
        .select("doc_id", "bucket", grams_from_th("th").alias("grams"))
    )
    return docs.localCheckpoint(eager=False)


# --- exact dedup on normalized fingerprint ----------------------------------
@_register(
    "dedup_exact",
    """
    SELECT md5(lower(trim(text))) AS fingerprint,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
           COUNT(*) AS group_size,
           CAST(COUNT(*) - 1 AS BIGINT) AS dups_removed
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(t: Frames) -> DataFrame:
    return (
        t["documents"]
        .groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("group_size"),
            (F.count("*") - 1).cast("long").alias("dups_removed"),
        )
    )


# --- n-gram Jaccard within prefix buckets (bounded candidate set) -----------
_NGRAMS = f"list_distinct(list_transform(range(1, len({_TOKENS}) - 1), i -> array_to_string(list_slice({_TOKENS}, i, i + 2), ' ')))"
_BUCKET = f"md5(array_to_string(list_slice({_TOKENS}, 1, 4), ' '))"


@_register(
    "dedup_ngram_jaccard",
    f"""
    WITH docs AS (
      SELECT doc_id, {_BUCKET} AS bucket, {_NGRAMS} AS grams FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {dround_sql(
             "CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)"
             " / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))"
           )} AS jaccard
    FROM docs a JOIN docs b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE len(a.grams) + len(b.grams) > 0
    """,
)
def dedup_ngram_jaccard(t: Frames) -> DataFrame:
    # shared prefix-bucket + hashed-shingle projection (scale notes on
    # _gram_projection); candidate pairs only WITHIN a bucket — the
    # self-join below is the only shuffle and never goes all-pairs
    docs = _gram_projection(t)
    a = docs.alias("a")
    b = docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.col("a.grams")) + F.size(F.col("b.grams")) - inter
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # two empty gram sets → 0/0 (ANSI divide-by-zero); such pairs
        # carry no signal, drop them in both engines
        .where(F.size(F.col("a.grams")) + F.size(F.col("b.grams")) > 0)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dround(inter.cast("double") / union).alias("jaccard"),
        )
    )


#: minimum (rounded) containment on EITHER side for a pair to surface
#: — 0.8 = four fifths of the smaller doc's grams appear in the other.
CONTAINMENT_MIN = 0.8


@_register(
    "dedup_ngram_containment",
    f"""
    WITH docs AS (
      SELECT doc_id, {_BUCKET} AS bucket, {_NGRAMS} AS grams FROM documents
    )
    SELECT doc_a, doc_b, containment_a, containment_b FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             {dround_sql(
               "CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)"
               " / len(a.grams)"
             )} AS containment_a,
             {dround_sql(
               "CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)"
               " / len(b.grams)"
             )} AS containment_b
      FROM docs a JOIN docs b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
      WHERE len(a.grams) > 0 AND len(b.grams) > 0
    ) WHERE GREATEST(containment_a, containment_b) >= {CONTAINMENT_MIN}
    """,
)
def dedup_ngram_containment(t: Frames) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs (r15): for each candidate
    pair, the fraction of EACH side's gram set found in the other —
    |A∩B|/|A| and |A∩B|/|B| — surfacing pairs where either side is
    >= CONTAINMENT_MIN contained. The duplication class symmetric
    Jaccard structurally under-scores: a document quoted whole inside
    a 10x-longer one has Jaccard ~0.1 (invisible at any sane
    threshold) but containment ~1.0 on the short side — the
    quoted/expanded/boilerplate-wrapped near-dups a pretraining
    dedup pass wants to catch (Broder's containment measure, the
    docs_dup_spans complement at the whole-doc grain).

    Scale design: identical candidate machinery to
    ``dedup_ngram_jaccard`` — the shared prefix-bucket +
    hashed-3-gram projection (``_gram_projection``,
    localCheckpointed, one definition), candidates only WITHIN a
    bucket, never all-pairs; the two containment ratios are row
    expressions over the same array intersection. Same recall
    envelope as the Jaccard op (prefix blocking; this corpus's dup
    classes are prefix-stable — production would swap in MinHash-band
    blocking, whose machinery ``dedup_minhash_lsh`` already carries).
    Both ratios are dround'ed BEFORE the threshold compare, so the
    boundary decision is bit-identical in both engines."""
    docs = _gram_projection(t)
    a, b = docs.alias("a"), docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    ca = dround(inter.cast("double") / F.size(F.col("a.grams")))
    cb = dround(inter.cast("double") / F.size(F.col("b.grams")))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where((F.size(F.col("a.grams")) > 0) & (F.size(F.col("b.grams")) > 0))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ca.alias("containment_a"),
            cb.alias("containment_b"),
        )
        .where(
            F.greatest(F.col("containment_a"), F.col("containment_b"))
            >= CONTAINMENT_MIN
        )
    )


_CONTAINMENT_APPLY_ORACLE = """
WITH cpairs AS ({containment_pairs}),
cdrops AS (
  SELECT doc_a AS doc_id FROM cpairs
  WHERE containment_a >= {MIN} AND containment_b < {MIN}
  UNION
  SELECT doc_b FROM cpairs WHERE containment_b >= {MIN}
)
SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM cdrops)
"""


@_register("docs_dedup_containment_apply", None)  # SQL bound below
def docs_dedup_containment_apply(t: Frames) -> DataFrame:
    """Apply the containment decision (r15): the corpus minus every
    document substantially CONTAINED in another — the actionable twin
    of ``dedup_ngram_containment`` the way ``docs_dedup_apply`` is
    Jaccard's. Drop rule per surfaced pair: the contained side loses
    (its grams are a subset; the container carries strictly more
    information), and a MUTUAL pair (near-equal docs, both sides >=
    CONTAINMENT_MIN) keeps the min doc_id — so the relation is
    acyclic (container gram count strictly grows except at ties,
    which break by id) and every containment chain keeps its maximal
    survivor. Greedy, not transitive-closure: X dropped for living
    inside Y stays dropped even if Y later loses to Z — Z survives
    and carries both.

    Scale design: the drop list is a projection of the (bucketed,
    never all-pairs) containment pair stream; the subtraction is the
    LEFT ANTI join of ``docs_dedup_apply``, un-hinted under the
    module broadcast policy (drop lists scale with the corpus — AQE
    sizes the join at runtime)."""
    return _containment_apply(t, dedup_ngram_containment(t))


def _containment_apply(t: Frames, pairs: DataFrame) -> DataFrame:
    """The containment drop rule over any (doc_a, doc_b,
    containment_a, containment_b) pair stream — factored so the
    bucketed and GLOBAL apply ops share one decision definition (the
    contained side loses; mutual pairs keep the min doc_id; greedy,
    not transitive-closure — the registered op's docstring carries
    the argument)."""
    drops = (
        pairs.filter(
            (F.col("containment_a") >= CONTAINMENT_MIN)
            & (F.col("containment_b") < CONTAINMENT_MIN)
        )
        .select(F.col("doc_a").alias("doc_id"))
        .unionByName(
            pairs.filter(F.col("containment_b") >= CONTAINMENT_MIN).select(
                F.col("doc_b").alias("doc_id")
            )
        )
        .distinct()
    )
    return (
        t["documents"]
        .join(drops, "doc_id", "left_anti")
        .select(
            "doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
        )
    )


DEDUP_OPS["docs_dedup_containment_apply"] = (
    docs_dedup_containment_apply,
    _CONTAINMENT_APPLY_ORACLE.format(
        containment_pairs=DEDUP_OPS["dedup_ngram_containment"][1],
        MIN=CONTAINMENT_MIN,
    ),
)


#: rounding slack folded into the prefix-filter probe count: the
#: surfacing threshold compares the DROUND(4)ed ratio, so a raw
#: containment as low as MIN - 0.00005 still rounds in; widening the
#: missing-gram budget by that slack keeps the recall theorem exact
#: for the rounded threshold at any gram-set size.
_CONTAINMENT_ROUND_SLACK = 0.00005


@_register(
    "dedup_containment_global",
    f"""
    WITH docs AS (
      SELECT doc_id, {_NGRAMS} AS grams FROM documents
    )
    SELECT doc_a, doc_b, containment_a, containment_b FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             {dround_sql(
               "CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)"
               " / len(a.grams)"
             )} AS containment_a,
             {dround_sql(
               "CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)"
               " / len(b.grams)"
             )} AS containment_b
      FROM docs a JOIN docs b ON a.doc_id < b.doc_id
      WHERE len(a.grams) > 0 AND len(b.grams) > 0
    ) WHERE GREATEST(containment_a, containment_b) >= {CONTAINMENT_MIN}
    """,
)
def dedup_containment_global(t: Frames) -> DataFrame:
    """GLOBAL containment pairs with EXACT recall (r16): every pair
    where either side's gram set is >= CONTAINMENT_MIN contained in
    the other — across the WHOLE corpus, no blocking-recall caveat.
    ``dedup_ngram_containment`` blocks on the 4-token-prefix bucket,
    so a document quoted in the MIDDLE of another (different prefix)
    is structurally invisible to it; this op surfaces exactly the
    full all-pairs relation (the oracle IS the quadratic form) from a
    bounded plan.

    Scale design — the set-similarity-join prefix filter (PPJoin
    family) on GLOBALLY-RAREST grams: if side A is t-contained in B,
    at most (1-t)·|A| of A's grams are outside B, so probing the
    index with any floor((1-t)·|A|)+1 of A's grams MUST hit B —
    recall is a theorem, not a tuning claim (the probe budget also
    absorbs the dround boundary slack, ``_CONTAINMENT_ROUND_SLACK``).
    Probes are chosen rarest-first by corpus document frequency
    (ties by gram hash) purely to bound the candidate fan-out: a
    probe gram's join hits df(gram) postings, and the rarest ~20% of
    a doc's grams sit in the df tail. The stages are all keyed — one
    df aggregate over the exploded grams (the TF-IDF cost class), a
    per-doc ranking window (partition bounded by doc length), the
    probe⋈postings equi-join on the gram hash, a pair-keyed distinct,
    and two doc_id-keyed join-backs for the EXACT array-intersect
    verify that makes precision exact too. Nothing is ever all-pairs;
    at 100 TB the df table is the standing corpus statistic the
    nightly index publishes.

    The verified pair stream is a session-shared surface
    (``core.shared``, keyed on the ``documents`` frame) for this op and
    its two consumers (``docs_dedup_containment_global_apply``,
    ``docs_containment_by_source``), so the probe join runs once per
    corpus frame."""
    return shared(
        t["documents"],
        "containment_global",
        lambda: _containment_global_build(t).persist(),
    )


def _containment_global_build(t: Frames) -> DataFrame:
    """The un-shared builder of the global containment pair stream —
    the plan described on ``dedup_containment_global``."""
    docs = (
        _gram_projection(t)
        .select("doc_id", "grams")
        .filter(F.size("grams") > 0)
    )
    exploded = docs.select("doc_id", F.explode("grams").alias("gram"))
    df_tab = exploded.groupBy("gram").agg(F.count("*").alias("df"))
    ranked = exploded.join(df_tab, "gram").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "gram")
        ),
    )
    probes = (
        ranked.join(docs.select("doc_id", F.size("grams").alias("n")), "doc_id")
        .filter(
            F.col("rk")
            <= F.floor(
                F.col("n") * F.lit(1 - CONTAINMENT_MIN + _CONTAINMENT_ROUND_SLACK)
            )
            + 1
        )
        .select(F.col("doc_id").alias("p_id"), "gram")
    )
    cand = (
        probes.join(
            exploded.select(F.col("doc_id").alias("o_id"), "gram"), "gram"
        )
        .filter(F.col("p_id") != F.col("o_id"))
        .select(
            F.least("p_id", "o_id").alias("doc_a"),
            F.greatest("p_id", "o_id").alias("doc_b"),
        )
        .distinct()
    )
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            dround(inter.cast("double") / F.size("ga")).alias("containment_a"),
            dround(inter.cast("double") / F.size("gb")).alias("containment_b"),
        )
        .where(
            F.greatest(F.col("containment_a"), F.col("containment_b"))
            >= CONTAINMENT_MIN
        )
    )


@_register("docs_dedup_containment_global_apply", None)  # SQL bound below
def docs_dedup_containment_global_apply(t: Frames) -> DataFrame:
    """Apply the GLOBAL containment decision (r16): the corpus minus
    every document substantially contained in another — the
    actionable twin of ``dedup_containment_global`` the way
    ``docs_dedup_containment_apply`` is the bucketed op's. Identical
    drop rule (shared ``_containment_apply``: contained side loses,
    mutual pairs keep the min id, greedy not transitive); the only
    difference is the pair stream underneath — the exact-recall
    prefix-filter join, so a document quoted MID-corpus-doc (invisible
    to the bucketed apply) is dropped here. The survivor-set delta vs
    the bucketed apply is exactly the mid-document classes, pinned in
    tests/test_llm_ops.py.

    Scale design: the drop list is a projection of the prefix-filter
    pair stream (keyed end to end, never all-pairs); the subtraction
    is the same un-hinted LEFT ANTI join (AQE sizes it)."""
    return _containment_apply(t, dedup_containment_global(t))


DEDUP_OPS["docs_dedup_containment_global_apply"] = (
    docs_dedup_containment_global_apply,
    _CONTAINMENT_APPLY_ORACLE.format(
        containment_pairs=DEDUP_OPS["dedup_containment_global"][1],
        MIN=CONTAINMENT_MIN,
    ),
)


@_register("docs_containment_by_source", None)  # SQL bound below
def docs_containment_by_source(t: Frames) -> DataFrame:
    """Cross-source containment rollup (r16): for every DIRECTED
    source pair, how many containment relations point that way —
    contained_src is the source of the doc that lives >=
    CONTAINMENT_MIN inside the other — with the count and the mean
    containment ratio. The provenance question the pair stream alone
    doesn't answer: which source WRAPS which (a crawl that inlines a
    reference corpus shows up as (reference -> crawl) mass), the
    per-source planning signal for dedup budget and mix weights.
    Each surfaced pair contributes its contained side(s): a mutual
    pair (both >= MIN) counts once in each direction.

    Scale design: a projection + two broadcastable doc->source
    join-backs over the bounded prefix-filter pair stream
    (``dedup_containment_global`` — never all-pairs), folded to the
    O(sources²) rollup with map-side partials."""
    pairs = dedup_containment_global(t)
    src = t["documents"].select("doc_id", "source")
    directed = (
        pairs.filter(F.col("containment_a") >= CONTAINMENT_MIN)
        .select(
            F.col("doc_a").alias("contained_id"),
            F.col("doc_b").alias("container_id"),
            F.col("containment_a").alias("containment"),
        )
        .unionByName(
            pairs.filter(F.col("containment_b") >= CONTAINMENT_MIN).select(
                F.col("doc_b").alias("contained_id"),
                F.col("doc_a").alias("container_id"),
                F.col("containment_b").alias("containment"),
            )
        )
    )
    return (
        directed.join(
            src.select(
                F.col("doc_id").alias("contained_id"),
                F.col("source").alias("contained_src"),
            ),
            "contained_id",
        )
        .join(
            src.select(
                F.col("doc_id").alias("container_id"),
                F.col("source").alias("container_src"),
            ),
            "container_id",
        )
        .groupBy("contained_src", "container_src")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            dround(F.avg("containment")).alias("avg_containment"),
        )
    )


DEDUP_OPS["docs_containment_by_source"] = (
    docs_containment_by_source,
    f"""
    WITH cpairs AS ({DEDUP_OPS["dedup_containment_global"][1]}),
    directed AS (
      SELECT doc_a AS contained_id, doc_b AS container_id,
             containment_a AS containment
      FROM cpairs WHERE containment_a >= {CONTAINMENT_MIN}
      UNION ALL
      SELECT doc_b, doc_a, containment_b
      FROM cpairs WHERE containment_b >= {CONTAINMENT_MIN}
    )
    SELECT a.source AS contained_src, b.source AS container_src,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {dround_sql('AVG(d.containment)')} AS avg_containment
    FROM directed d
    JOIN documents a ON a.doc_id = d.contained_id
    JOIN documents b ON b.doc_id = d.container_id
    GROUP BY 1, 2
    """,
)


# --- corpus-gram analytics: cross-source overlap + per-doc novelty ----------
@_register(
    "docs_cross_overlap",
    f"""
    WITH src_grams AS (
      SELECT DISTINCT source, unnest({_NGRAMS}) AS gram FROM documents
    ),
    totals AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
      FROM src_grams GROUP BY source
    ),
    shared AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS shared_grams
      FROM src_grams a JOIN src_grams b
        ON a.gram = b.gram AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT s.src_a, s.src_b, ta.n_grams AS grams_a, tb.n_grams AS grams_b,
           s.shared_grams,
           {dround_sql("CAST(s.shared_grams AS DOUBLE) / ta.n_grams")} AS overlap_a,
           {dround_sql("CAST(s.shared_grams AS DOUBLE) / tb.n_grams")} AS overlap_b
    FROM shared s
    JOIN totals ta ON s.src_a = ta.source
    JOIN totals tb ON s.src_b = tb.source
    """,
)
def docs_cross_overlap(t: Frames) -> DataFrame:
    """Pairwise cross-SOURCE 3-gram containment — the corpus-vs-corpus
    overlap report a curation platform reads before mixing sources:
    for every source pair that shares at least one gram, the distinct
    gram counts of each side, the shared count, and both directed
    containments (``overlap_a`` = |A∩B|/|A|: how much of source A's
    content source B already carries). A mirror/scrape pair shows up
    as overlap near 1.0 and gets collapsed upstream instead of double
    counted in the mixture; ``docs_contamination_report`` is the
    eval-vs-train special case of the same question.

    Scale design: the per-source DISTINCT gram table is the only
    corpus-sized intermediate (gram-keyed shuffle, map-side partial
    distinct), localCheckpointed once and read by all three consumers
    (totals + both join sides). The self-join is gram-keyed and emits
    at most |sources|² rows per gram — sources are a bounded domain
    (dozens at 100 TB), never a doc-count blow-up. Per-source totals
    stay un-hinted (AQE broadcasts the tiny side at runtime; the
    module's broadcast policy reserves hints for fixed-cardinality
    frames, and |sources| is data-dependent). Grams are the shared
    chained-xxhash64 longs from ``grams_from_th`` — distinct counts
    match the oracle's string grams by injectivity on the observed
    corpus (the ``dedup_ngram_jaccard`` argument). Zero-overlap pairs
    are absent in both engines (inner-join semantics)."""
    stage1 = gram_cols()
    src_grams = (
        spread_small_input(t["documents"])
        .select("source", stage1["th"].alias("th"))
        .select("source", F.explode(grams_from_th("th")).alias("gram"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    totals = src_grams.groupBy("source").agg(
        F.count("*").cast("long").alias("n_grams")
    )
    a, b = src_grams.alias("a"), src_grams.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").cast("long").alias("shared_grams"))
    )
    ta, tb = totals.alias("ta"), totals.alias("tb")
    return (
        shared.join(ta, F.col("src_a") == F.col("ta.source"))
        .join(tb, F.col("src_b") == F.col("tb.source"))
        .select(
            "src_a",
            "src_b",
            F.col("ta.n_grams").alias("grams_a"),
            F.col("tb.n_grams").alias("grams_b"),
            "shared_grams",
            dround(
                F.col("shared_grams").cast("double") / F.col("ta.n_grams")
            ).alias("overlap_a"),
            dround(
                F.col("shared_grams").cast("double") / F.col("tb.n_grams")
            ).alias("overlap_b"),
        )
    )


@_register(
    "docs_ngram_novelty",
    f"""
    WITH pg AS (
      SELECT doc_id, unnest({_NGRAMS}) AS gram FROM documents
    ),
    firsts AS (
      SELECT gram, MIN(doc_id) AS first_doc FROM pg GROUP BY gram
    )
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS novel_grams,
           {dround_sql(
             "CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END) AS DOUBLE)"
             " / COUNT(*)"
           )} AS novelty
    FROM pg p JOIN firsts f ON p.gram = f.gram
    GROUP BY p.doc_id
    """,
)
def docs_ngram_novelty(t: Frames) -> DataFrame:
    """Per-document n-gram NOVELTY in ingestion (doc_id) order: the
    fraction of a document's distinct 3-grams whose earliest corpus
    occurrence is this document. The data-valuation signal behind
    "keep documents that add content": a doc scoring ~0 restates what
    the corpus already holds (boilerplate, near-dup tails the
    cluster pass missed), a doc scoring ~1 is fresh text — curation
    pipelines upsample high-novelty strata and trim the low end.

    Scale design: rides the shared ``_gram_projection`` (one
    tokenize+hash, checkpointed), exploded to (doc_id, gram) pairs —
    per-doc-distinct by construction (``grams_from_th`` applies
    array_distinct). One gram-keyed agg computes each gram's earliest
    doc (partial MIN map-side), one gram-keyed join annotates the
    pairs (firsts is 1 row per gram — no fan-out), one doc-keyed agg
    folds the flags. All three shuffles are on natural keys; a
    heavy-tail gram contributes many pair rows but joins a single
    firsts row, so skew degrades no worse than the pair table itself.
    Hashed grams match the oracle's string grams by injectivity
    (the ``dedup_ngram_jaccard`` argument). Docs with <3 tokens have
    no grams and no signal; they are absent in both engines (explode
    drops them, matching the oracle's inner join)."""
    pg = _gram_projection(t).select("doc_id", F.explode("grams").alias("gram"))
    firsts = pg.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        pg.join(firsts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0))
            .cast("long")
            .alias("novel_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "novel_grams",
            dround(
                F.col("novel_grams").cast("double") / F.col("n_grams")
            ).alias("novelty"),
        )
    )


# --- MinHash + LSH banding (Spark-specific hashes → rows-only) --------------
MINHASH_K = 32
LSH_BANDS = 8  # 8 bands × 4 rows


def minhash_signatures(docs: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """doc_id → array<long> of K minhashes over word 3-shingles.

    minhash_i = min over shingles of xxhash64(shingle_hash, seed=i).
    Shingle hashing (round 7): tokens hash to longs ONCE, and a
    position's 3-shingle hash chains the three token hashes through
    one xxhash64(l1, l2, l3) — no per-position string slice / join /
    re-hash. Measured at a 100× corpus the string formulation was
    13.4 s for this stage alone; the token-hash combine is 1.1 s
    (identical-string shingles still collide to identical hashes;
    cross-triple collisions are 2⁻⁶⁴-negligible). The K seeded mins
    stay pure column expressions: a mapInPandas XXH64 kernel was
    measured SLOWER here (~7 s vs ~4.7 s — Arrow transfer + per-row
    ragged-array assembly eats the vectorization win on arrays this
    small), the reverse of the k-means case where the fold ran per
    (row × k-table) cell.
    """
    toks = _tokens()
    tok_hashes = F.transform(toks, lambda t: F.xxhash64(t))
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(F.col("th")) - 2, F.lit(1))),
            # try_element_at: docs under 3 tokens still emit one
            # degenerate shingle (out-of-range → null, which xxhash64
            # skips) instead of an ANSI index error
            lambda i: F.xxhash64(
                F.try_element_at(F.col("th"), i),
                F.try_element_at(F.col("th"), i + 1),
                F.try_element_at(F.col("th"), i + 2),
            ),
        )
    )

    # NB: the seed must be captured via a closure FACTORY. A default
    # arg (``lambda s, seed=i: ...``) makes the lambda two-parameter,
    # and PySpark binds a transform lambda's second parameter to the
    # element INDEX — every "seed" silently becomes the position and
    # all K hash functions collapse into one (caught in round 6).
    def _seeded_min(seed: int):
        return F.array_min(
            F.transform(F.col("shingles"), lambda s: F.xxhash64(s, F.lit(seed)))
        )

    sig = F.array(*[_seeded_min(i) for i in range(k)])
    return (
        spread_small_input(docs)
        .select("doc_id", tok_hashes.alias("th"))
        .select("doc_id", shingles.alias("shingles"))
        .select("doc_id", sig.alias("signature"))
    )


def minhash_lsh_candidates(
    docs: DataFrame, k: int = MINHASH_K, bands: int = LSH_BANDS
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding + estimated Jaccard.

    Explodes each signature into ``bands`` bucket keys, groups by
    (band, bucket) — the single shuffle — and pairs documents within a
    bucket. Estimated Jaccard = fraction of matching minhashes.
    """
    rows = k // bands
    # materialize signatures once: the self-join would otherwise
    # recompute the full shingle+hash pipeline for both sides
    # (verified via executedPlan: 2 FileScans, no ReusedExchange)
    sigs = minhash_signatures(docs, k).localCheckpoint(eager=False)
    banded = sigs.select(
        "doc_id",
        "signature",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(*[F.col("signature")[b * rows + r] for r in range(rows)]).alias(
                            "bucket"
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "signature", "bb.band", "bb.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id", "a.signature", "b.signature")
        .toDF("doc_a", "doc_b", "sig_a", "sig_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return pairs.select(
        "doc_a", "doc_b", (matches / F.lit(float(k))).alias("est_jaccard")
    )


@_register("dedup_minhash_lsh", None)
def dedup_minhash_lsh(t: Frames) -> DataFrame:
    return minhash_lsh_candidates(t["documents"]).orderBy("doc_a", "doc_b")


# --- SimHash (64-bit, bit-voting over token hashes) -------------------------
def simhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id → 64-bit simhash. Bit b of the signature is 1 iff the
    majority of token hashes have bit b set. Expressed with explode +
    groupBy-sum (one shuffle on doc_id; at scale, salting is not
    needed because doc_id is unique)."""
    toks = _tokens()
    exploded = docs.select("doc_id", F.explode(toks).alias("tok")).select(
        "doc_id", F.xxhash64("tok").alias("h")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    agg = exploded.groupBy("doc_id").agg(*votes)
    sig = None
    for b in range(64):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        sig = term if sig is None else sig.bitwiseXOR(term)
    return agg.select("doc_id", sig.alias("simhash"))


@_register("dedup_simhash", None)
def dedup_simhash(t: Frames) -> DataFrame:
    return simhash_signatures(t["documents"]).orderBy("doc_id")


SIMHASH_BANDS = 4  # 4 × 16-bit bands
SIMHASH_MAX_HAMMING = 12


def simhash_candidates(
    docs: DataFrame,
    bands: int = SIMHASH_BANDS,
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """Near-dup pairs from simhash signatures: candidates share at
    least one of ``bands`` 16-bit signature bands (pigeonhole: any
    pair within Hamming distance < bands*? must match a band for
    d < bands when bits split evenly — standard simhash blocking),
    then exact Hamming distance filters to ``max_hamming``.
    One shuffle on (band, value); never all-pairs."""
    width = 64 // bands
    mask = (1 << width) - 1
    sigs = simhash_signatures(docs).localCheckpoint(eager=False)
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.val")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id", "a.simhash", "b.simhash")
        .toDF("doc_a", "doc_b", "sig_a", "sig_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


@_register("dedup_simhash_candidates", None)
def dedup_simhash_candidates(t: Frames) -> DataFrame:
    return simhash_candidates(t["documents"]).orderBy("doc_a", "doc_b")


# --- connected-components duplicate clustering ------------------------------
CLUSTER_JACCARD = 0.5  # pair-edge threshold for cluster membership


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    check_every: int = 2,
    algorithm: str = "propagation",
) -> DataFrame:
    """Connected components by iterative min-label propagation:
    every node's label starts as its own id; each round a node adopts
    the minimum label among itself and its neighbors; convergence
    when no label changes. Returns (node, component) with component =
    the minimum node id in the component.

    Scale design: each round is two keyed joins (neighbor propagation
    + POINTER JUMPING — every node also adopts its current label's
    label, the path-halving trick), so convergence is O(log diameter)
    rounds, not O(diameter): a 1000-link chain resolves in ~10 rounds.
    Two round-trip economies on top (round 5): the FIRST propagation
    is fused into initialization — when every label is still its own
    id, "min of my neighbors' labels" is just ``min(b) GROUP BY a``,
    one shuffle instead of join+union+agg — and the convergence count
    runs every ``check_every`` rounds (labels stay lazily
    checkpointed in between), so toy-scale latency is bounded by
    ~rounds/check_every driver actions, not one per round. Labels are
    localCheckpoint-ed so lineage stays O(rounds-between-checks).

    ``algorithm="star"`` dispatches to the alternating large-star /
    small-star rewrite (``connected_components_star``) — the upgrade
    for adversarial graphs where the EDGE LIST itself must shrink as
    the algorithm runs (high-degree hubs, edges that barely fit a
    shuffle). For typical dedup graphs (small diameter, modest
    degree) propagation + jumping is cheaper per round and stays the
    default.
    """
    if algorithm == "star":
        return connected_components_star(edges, src=src, dst=dst, max_iter=max_iter)
    if algorithm != "propagation":
        raise ValueError(f"unknown connected-components algorithm: {algorithm!r}")
    und = edges.selectExpr(f"{src} AS a", f"{dst} AS b").unionAll(
        edges.selectExpr(f"{dst} AS a", f"{src} AS b")
    )
    und = und.localCheckpoint(eager=True)
    # round 1 fused into init: with identity labels, adopting the min
    # neighbor label is a bare keyed min over the edge list
    labels = (
        und.groupBy(F.col("a").alias("node"))
        .agg(F.least(F.min("b"), F.first("a")).alias("component"))
        .localCheckpoint(eager=True)
    )
    for i in range(2, max_iter + 1):
        # neighbor's current label, keyed to the receiving node
        nbr = und.join(
            labels.withColumnRenamed("node", "b"), "b"
        ).select(F.col("a").alias("node"), "component")
        propagated = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # pointer jump: component ids are node ids, so re-resolve each
        # label through the freshly-propagated table (path halving)
        roots = propagated.select(
            F.col("node").alias("component"), F.col("component").alias("root")
        )
        # lazy checkpoint: materialized by the next convergence count,
        # so a round costs a driver action only on check rounds
        new_labels = (
            propagated.join(roots, "component")
            .select("node", F.col("root").alias("component"))
            .localCheckpoint(eager=False)
        )
        if i % check_every == 0 or i == max_iter:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.component") != F.col("o.component"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            labels = new_labels
    return labels


def connected_components_contracted(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    **kwargs,
) -> DataFrame:
    """ONE star-contraction round, then propagation CC over the
    contracted graph, labels composed back — the Spark twin of the
    d2 ORACLE's contraction pre-pass (r16 optimization; exactness
    argument above ``_FUZZY_CANONICAL_D2_ORACLE``): every node
    collapses to min(self, min neighbor); the component's true
    minimum maps to itself (all its neighbors are larger), inter-star
    edges survive, so the contracted graph has the same components
    with the same minimum labels. A label with NO contracted edge is
    a whole component collapsed into one star — its minimum IS the
    label, hence the COALESCE. Same (node, component) contract as
    :func:`connected_components`; property-pinned equal on random
    graphs in tests/test_properties.py.

    Why (guide §2.4 — remove shuffles outright): propagation CC
    shuffles the FULL edge list once per round (plus the pointer
    jump). On dense similarity graphs — the d<=2 pair stream carries
    ~260 edges per node at sf0.1 — one contraction round costs two
    keyed mins + two label-attach joins over the edge list, and
    collapses the graph so far that the remaining CC rounds run over
    a near-empty contracted edge set: ~1 edge-list-scale pass total
    instead of ~rounds. On sparse graphs the contraction is one extra
    pass — callers choose per graph shape; the dense-pair
    canonicalizations here are exactly the win case.

    r17: the contraction reads the DIRECTED edge list throughout
    instead of materializing the 2|E|-row undirected union — star
    labels come from two half-aggregations (min dst per src ∪ min src
    per dst covers every node's full neighborhood), label attach runs
    over |E| rows, and the contracted edge set keeps one direction per
    inter-star edge (propagation CC unions directions itself, so
    connectivity — hence components and minimum labels — is
    unchanged; equality stays property-pinned on random graphs).
    Measured 8.1 → 6.9 s on canonical_d2 at sf0.1, interleaved A/B."""
    e = edges.selectExpr(f"{src} AS a", f"{dst} AS b").localCheckpoint(
        eager=False
    )
    n1 = e.select(F.col("a").alias("node"), F.col("b").alias("mn"))
    n2 = e.select(F.col("b").alias("node"), F.col("a").alias("mn"))
    star = (
        n1.unionByName(n2)
        .groupBy("node")
        .agg(F.least(F.min("mn"), F.first("node")).alias("lab"))
        .localCheckpoint(eager=True)
    )
    # attach each endpoint's star label; AQE sizes the label side from
    # runtime stats (O(nodes) rows — broadcast when it fits, shuffle
    # join at graph scales where it cannot)
    sa = star.select(F.col("node").alias("a"), F.col("lab").alias("la"))
    sb = star.select(F.col("node").alias("b"), F.col("lab").alias("lb"))
    cedges = (
        e.join(sa, "a")
        .join(sb, "b")
        .filter(F.col("la") != F.col("lb"))
        .select(F.col("la").alias("csrc"), F.col("lb").alias("cdst"))
        .distinct()
    )
    comp = connected_components(cedges, src="csrc", dst="cdst", **kwargs)
    return star.join(
        comp.withColumnRenamed("node", "lab").withColumnRenamed(
            "component", "croot"
        ),
        "lab",
        "left",
    ).select(
        "node",
        F.coalesce("croot", "lab").alias("component"),
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    edge rewriting (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14). Returns (node, component) with
    component = the minimum node id in the component — same contract
    as ``connected_components``.

    Each round rewrites the EDGE LIST (instead of a label table):

    - **large-star**: every node links each *larger* neighbor to the
      minimum of its closed neighborhood — long tendrils collapse
      toward local minima.
    - **small-star**: every node links its *smaller* neighbors (and
      itself) to that minimum — stars centered away from the minimum
      re-center onto it.

    Convergence (provably O(log^2 n) rounds, O(log n) in practice) is
    when the edge set reaches a fixpoint: a forest of stars, each
    centered at its component's global minimum. Scale rationale vs
    label propagation: the working set *shrinks* every round (a star
    is the smallest representation of a component), high-degree hubs
    never fan labels out through a join, and per-round cost is two
    keyed aggregations + two joins on an ever-smaller edge list. The
    propagation variant keeps a full |V|-row label table live through
    every round, which is the right trade only while |E| comfortably
    fits a shuffle. Edges are localCheckpoint-ed per round (O(1)
    lineage); the fixpoint check is an exact set comparison (count +
    one-way exceptAll), both sides distinct by construction.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # node universe from the RAW input so self-loop-only nodes still
    # get a (singleton) component row, matching the propagation variant
    all_nodes = (
        edges.select(F.col(src).alias("node"))
        .unionAll(edges.select(F.col(dst)))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = e.count()
    for _ in range(max_iter):
        # large-star: for each node u, m = min(closed neighborhood);
        # emit (m, v) for every neighbor v > u
        und = e.selectExpr("lo AS u", "hi AS v").unionAll(
            e.selectExpr("hi AS u", "lo AS v")
        )
        mins = und.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        ls = (
            und.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )
        # small-star: edges are (hi -> lo); for each hi, m = min of its
        # smaller neighbors; emit (m, v) for v in neighbors \ {m} and
        # (m, hi)
        m2 = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        joined = ls.join(m2, "hi")
        re_centered = joined.filter(F.col("lo") != F.col("m")).select(
            F.col("m").alias("lo"), F.col("lo").alias("hi")
        )
        spokes = joined.select(F.col("m").alias("lo"), F.col("hi").alias("hi"))
        new_e = (
            re_centered.unionByName(spokes)
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_n = new_e.count()
        if new_n == n_edges and new_e.exceptAll(e).limit(1).count() == 0:
            e = new_e
            break
        e, n_edges = new_e, new_n
    # fixpoint = star forest: every hi points at exactly its center;
    # centers (and isolated input nodes) label themselves
    centers = e.groupBy(F.col("hi").alias("node")).agg(F.min("lo").alias("centre"))
    return all_nodes.join(centers, "node", "left").select(
        "node", F.coalesce("centre", "node").alias("component")
    )


_CLUSTER_COMP_CTE = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({{ngram_pairs}}) WHERE jaccard >= {CLUSTER_JACCARD}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS n FROM edges),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
),
comp AS (SELECT n AS doc_id, MIN(m) AS component_id FROM reach GROUP BY n)
"""

_CLUSTER_ORACLE = (
    _CLUSTER_COMP_CTE
    + """
SELECT doc_id, component_id,
       COUNT(*) OVER (PARTITION BY component_id) AS cluster_size,
       doc_id = component_id AS is_keeper
FROM comp
"""
)


@_register("dedup_clusters", None)  # real SQL bound below (needs ngram oracle text)
def dedup_clusters(t: Frames) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs: n-gram Jaccard pairs
    >= CLUSTER_JACCARD become edges; connected components group
    transitive duplicates (A~B, B~C -> one cluster even when A!~C);
    the minimum doc_id is the keeper. This is the step that turns
    pairwise dedup output into an actionable keep/drop decision —
    covers only documents with at least one near-dup pair (singletons
    are trivially keepers).

    Oracle: DuckDB recursive-CTE transitive closure over the same
    edge set (exact same pair SQL + threshold).
    """
    pairs = dedup_ngram_jaccard(t).filter(F.col("jaccard") >= CLUSTER_JACCARD)
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    w = Window.partitionBy("component")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("component_id"),
        F.count("*").over(w).alias("cluster_size"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


# bind the oracle now that dedup_ngram_jaccard's SQL exists in the registry
DEDUP_OPS["dedup_clusters"] = (
    dedup_clusters,
    _CLUSTER_ORACLE.format(ngram_pairs=DEDUP_OPS["dedup_ngram_jaccard"][1]),
)


@_register("dedup_cluster_stats", None)  # SQL bound below (nests the cluster oracle)
def dedup_cluster_stats(t: Frames) -> DataFrame:
    """Cluster-size histogram over the exact duplicate clusters — the
    dedup health report a curation run reads: per cluster size, how
    many clusters exist, how many docs they hold, and how many of
    those are redundant (non-keepers the dedup pass will drop). A fat
    tail here means boilerplate families or a replicated source; a
    spike at one size usually means a mirrored dump.

    Scale design: one extra keyed agg over dedup_clusters' output
    (docs-with-at-least-one-pair, far smaller than the corpus);
    countDistinct(component_id) expands to the standard two-phase
    distinct aggregate with map-side partials. Output is bounded by
    the number of distinct cluster sizes — dashboard-tiny."""
    clusters = dedup_clusters(t)
    return clusters.groupBy("cluster_size").agg(
        F.countDistinct("component_id").cast("long").alias("n_clusters"),
        F.count("*").cast("long").alias("n_docs"),
        (F.count("*") - F.countDistinct("component_id")).cast("long").alias(
            "n_redundant"
        ),
    )


DEDUP_OPS["dedup_cluster_stats"] = (
    dedup_cluster_stats,
    f"""
    WITH clusters AS ({DEDUP_OPS["dedup_clusters"][1]})
    SELECT cluster_size,
           CAST(COUNT(DISTINCT component_id) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) - COUNT(DISTINCT component_id) AS BIGINT) AS n_redundant
    FROM clusters GROUP BY cluster_size
    """,
)


# --- end-to-end scale-path dedup: LSH candidates -> clusters -> keepers -----
LSH_CLUSTER_JACCARD = 0.5  # estimated-Jaccard edge threshold


@_register("dedup_clusters_lsh", None)
def dedup_clusters_lsh(t: Frames) -> DataFrame:
    """The COMPLETE scale-path dedup pipeline in one operator:
    MinHash-LSH banding produces candidate pairs (never all-pairs),
    pairs with estimated Jaccard >= LSH_CLUSTER_JACCARD become edges,
    connected components group transitive duplicates, min doc_id is
    the keeper. This is the composition a 100 TB corpus actually
    runs — `dedup_clusters` (exact n-gram pairs, DuckDB-oracled) is
    its ground-truth twin; cluster agreement between the two is
    asserted in tests/test_llm_ops.py. Rows-only (xxhash64 minhashes
    are engine-specific)."""
    pairs = minhash_lsh_candidates(t["documents"]).filter(
        F.col("est_jaccard") >= LSH_CLUSTER_JACCARD
    )
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    w = Window.partitionBy("component")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("component_id"),
        F.count("*").over(w).alias("cluster_size"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


# --- apply the dedup decision: the cleaned corpus itself --------------------
_DEDUP_APPLY_ORACLE = (
    _CLUSTER_COMP_CTE
    + """
SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component_id)
"""
)


@_register("docs_dedup_apply", None)  # real SQL bound below (needs ngram oracle text)
def docs_dedup_apply(t: Frames) -> DataFrame:
    """The operator users actually run: the DEDUPLICATED corpus.
    Near-dup clusters (n-gram Jaccard >= CLUSTER_JACCARD, transitive)
    elect min-doc_id keepers; every non-keeper is dropped, singletons
    pass through untouched. Output = documents metadata minus the
    drops — the table a pre-training run reads next.

    Scale design: the subtraction is a LEFT ANTI join against the
    drop list, UN-hinted (round-11 fix): the drop list is cluster
    non-keepers — a *fraction of the corpus* that still scales with
    it (web-crawl dup rates run 30–50%, i.e. billions of rows at
    100 TB), so it falls under the module broadcast policy
    (plans/relational.py: F.broadcast only on fixed-cardinality
    frames). AQE sizes the join at runtime — broadcast while the
    drop list is small, shuffle once it is not — exactly like the
    ``_elect_best`` twin's anti-join. Cluster construction cost is
    dedup_clusters itself (banded equi-joins + O(log d) component
    rounds); this operator adds one scan.

    Oracle: same recursive-CTE transitive closure, applied as a NOT IN
    over the documents table."""
    drops = (
        dedup_clusters(t)
        .filter(~F.col("is_keeper"))
        .select("doc_id")
    )
    return (
        t["documents"]
        .join(drops, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars"))
    )


DEDUP_OPS["docs_dedup_apply"] = (
    docs_dedup_apply,
    _DEDUP_APPLY_ORACLE.format(ngram_pairs=DEDUP_OPS["dedup_ngram_jaccard"][1]),
)


# --- quality-aware keeper election (round 10) --------------------------------
_KEEP_BEST_ORACLE = (
    _CLUSTER_COMP_CTE
    + """
, scored AS (
  SELECT c.doc_id, c.component_id, {quality} AS qs
  FROM comp c JOIN documents d ON c.doc_id = d.doc_id
),
ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY component_id ORDER BY qs DESC, doc_id) AS rn
  FROM scored
)
SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)
"""
)


@_register("docs_dedup_keep_best", None)  # real SQL bound below
def docs_dedup_keep_best(t: Frames) -> DataFrame:
    """``docs_dedup_apply`` with QUALITY-aware keeper election: each
    near-dup cluster keeps its highest-quality member (curation's
    length/diversity score, doc_id as the deterministic tiebreak)
    instead of the arbitrary min-doc_id — the election production
    pre-training pipelines actually want, since near-dup classes mix a
    clean original with boilerplate-wrapped or truncated variants and
    min-id keeps whichever was crawled first. Singletons pass through
    untouched; output = the deduplicated corpus metadata, same shape
    as ``docs_dedup_apply``.

    Scale design: cluster members (docs with at least one near-dup
    pair) are a small fraction of the corpus, so the quality join and
    the per-component row_number rank run on that fraction only —
    quality is computed per member row during the equi-join scan,
    never materialized corpus-wide; AQE sizes both the member join and
    the final anti-join (module broadcast policy: no hints on
    sf-scaling frames). The rank window shuffles on component_id,
    whose partitions are cluster-sized (bounded by the largest
    duplicate family).

    Election ties are impossible cross-engine by construction: the
    score is rounded (dround) BEFORE ranking — the oracle discipline
    for doubles — and equal rounded scores fall back to doc_id.

    Oracle: the recursive-CTE transitive closure + the same quality
    SQL fragment the curation oracles use (text._QUALITY_SQL, bound in
    _bind_keep_best_oracle), ranked per component."""
    return _elect_best(t, dedup_clusters(t))


def _elect_best(t: Frames, clusters: DataFrame) -> DataFrame:
    """Shared quality election: keep the highest-quality member per
    cluster (rounded score, doc_id tiebreak), drop the rest, pass
    singletons through. ``clusters`` needs (doc_id, component_id).
    The score is the ONE curation definition (curation_columns —
    already dround'ed, twin of text._QUALITY_SQL), not a local copy."""
    from real_time_fraud_detection_lakehouse_spark.operators.curation import (
        curation_columns,  # no cycle: curation imports only text
    )

    quality = curation_columns()["quality_score"]
    members = clusters.select("doc_id", "component_id")
    scored = members.join(
        t["documents"].select("doc_id", quality.alias("quality_score")), "doc_id"
    )
    w = Window.partitionBy("component_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    drops = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("doc_id")
    )
    return (
        t["documents"]
        .join(drops, "doc_id", "left_anti")
        .select(
            "doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
        )
    )


@_register("docs_dedup_keep_best_lsh", None)
def docs_dedup_keep_best_lsh(t: Frames) -> DataFrame:
    """The SCALE-PATH twin of ``docs_dedup_keep_best``: quality
    election over MinHash-LSH clusters (``dedup_clusters_lsh`` — banded
    candidates, never all-pairs) instead of exact n-gram clusters. The
    composition a 100 TB corpus runs; rows-only (xxhash64 minhashes are
    engine-specific) with keeper agreement against the exact oracled
    twin asserted in tests/test_llm_ops.py."""
    return _elect_best(t, dedup_clusters_lsh(t))


def _bind_keep_best_oracle() -> None:
    from real_time_fraud_detection_lakehouse_spark.operators.text import _QUALITY_SQL

    DEDUP_OPS["docs_dedup_keep_best"] = (
        docs_dedup_keep_best,
        _KEEP_BEST_ORACLE.format(
            ngram_pairs=DEDUP_OPS["dedup_ngram_jaccard"][1],
            quality=dround_sql(_QUALITY_SQL),
        ),
    )


_bind_keep_best_oracle()


# --- leakage-safe train/test split (round 10) --------------------------------
SPLIT_TEST_PCT = 20  # test share, percent
#: Knuth multiplicative constant — the split hash is PLAIN BIGINT
#: arithmetic, bit-identical in Spark and DuckDB, so the oracle checks
#: the exact assignment, not just proportions
_SPLIT_MIX = 2654435761
#: Mersenne prime 2^31-1: the key is reduced modulo this BEFORE the
#: Knuth multiply (round-11 overflow fix) — the raw ``key * C`` wraps
#: int64 for key >= ~3.47e9 (Spark ANSI and DuckDB both ERROR there;
#: legacy Spark silently wrapped negative, skewing everything to
#: 'train'), and 100 TB corpora routinely carry doc_ids > 2^32. After
#: the reduction the max product is (2^31-2) * C ≈ 5.70e18 < 2^63-1,
#: overflow-free at EVERY BIGINT key in both engines.
_SPLIT_PRIME = 2147483647

_SPLIT_ORACLE = (
    _CLUSTER_COMP_CTE
    + f"""
SELECT d.doc_id, d.source,
       COALESCE(c.component_id, d.doc_id) AS split_key,
       CASE WHEN ((COALESCE(c.component_id, d.doc_id) % {_SPLIT_PRIME})
                  * {_SPLIT_MIX}) % 100 < {100 - SPLIT_TEST_PCT}
            THEN 'train' ELSE 'test' END AS split
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
"""
)


@_register("docs_split_leakage_safe", None)  # real SQL bound below
def docs_split_leakage_safe(t: Frames) -> DataFrame:
    """Train/test split that CANNOT leak near-duplicates across the
    boundary: the split unit is the near-dup CLUSTER (connected
    component), not the document — a random per-doc split (M2's
    randomSplit) puts one member of a duplicate class in train and its
    twin in test, silently inflating eval scores; hashing the
    component id instead lands every class wholly on one side.
    Singletons hash their own doc_id. The assignment is a
    deterministic multiplicative hash in plain BIGINT arithmetic
    ((key mod 2^31-1) * Knuth-constant mod 100 vs the train
    percentage — the modular reduction keeps the product inside int64
    for EVERY BIGINT key, see _SPLIT_PRIME), so the split is
    reproducible across runs, engines, and cluster sizes — no RNG,
    no seed management, no overflow at 100 TB id spaces.

    Scale design: one left join of the corpus against the (small)
    cluster membership plus per-row arithmetic — the split itself
    adds no shuffle beyond dedup_clusters' own; at 100 TB the cluster
    table is the standing output of the nightly dedup pass.

    Oracle: the recursive-CTE transitive closure + identical integer
    arithmetic (exact assignment equality, not a proportion check)."""
    return _split_assign(t, dedup_clusters(t).select("doc_id", "component_id"))


def _split_assign(t: Frames, clusters: DataFrame) -> DataFrame:
    """The split assignment given a (doc_id, component_id) cluster
    membership frame — factored out so ``docs_corpus_build`` can reuse
    ONE cluster computation across the election and the split (the
    composed path would otherwise run dedup_clusters twice). The hash
    discipline lives here only; the registered op and the composed
    oracle both route through it."""
    comp = F.coalesce(F.col("component_id"), F.col("doc_id"))
    bucket = ((comp % _SPLIT_PRIME) * F.lit(_SPLIT_MIX)) % 100
    return (
        t["documents"]
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            comp.alias("split_key"),
            F.when(bucket < 100 - SPLIT_TEST_PCT, "train")
            .otherwise("test")
            .alias("split"),
        )
    )


DEDUP_OPS["docs_split_leakage_safe"] = (
    docs_split_leakage_safe,
    _SPLIT_ORACLE.format(ngram_pairs=DEDUP_OPS["dedup_ngram_jaccard"][1]),
)


# --- incremental arrival dedup (round 10) ------------------------------------
#: the arrival split for the registered fixture: docs above 80% of the
#: max doc_id are "new arrivals", the rest is the standing corpus —
#: deterministic at every SF and in both engines
_INCR_HWM_FRACTION = 0.8

_INCR_ORACLE = f"""
WITH hwm AS (
  SELECT CAST(FLOOR(MAX(doc_id) * {_INCR_HWM_FRACTION}) AS BIGINT) AS h FROM documents
),
fps AS (
  SELECT doc_id, md5(lower(trim(text))) AS fp,
         MIN(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS fp_min
  FROM documents
),
near_drops AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM ({{ngram_pairs}}), hwm
  WHERE jaccard >= {{threshold}} AND doc_b > h
)
SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d JOIN fps f ON d.doc_id = f.doc_id, hwm
WHERE d.doc_id > hwm.h
  AND f.doc_id = f.fp_min
  AND d.doc_id NOT IN (SELECT doc_id FROM near_drops)
"""


@_register("docs_dedup_incremental", None)  # real SQL bound below
def docs_dedup_incremental(t: Frames) -> DataFrame:
    """Dedup NEW ARRIVALS against the standing corpus without
    re-clustering the corpus — the lakehouse ingest pattern (the HWM
    incremental idiom from plans/incremental.py applied to dedup).
    Arrivals (doc_id above the fixture HWM, _INCR_HWM_FRACTION of
    max doc_id) survive iff (a) no exact-fingerprint twin exists in
    the corpus or among smaller-id arrivals, and (b) no near-dup pair
    (prefix-bucket n-gram Jaccard >= CLUSTER_JACCARD) connects them to
    ANY smaller-id document. Output: the arrivals the ingest admits.

    Scale design — the costs are ARRIVAL-proportional, never
    corpus-quadratic: the exact stage is one fp-keyed anti-join of
    arrivals against the corpus fingerprint column (at 100 TB the
    nightly pass maintains that fp table — REAL since round 11:
    ``build_corpus_index`` publishes it and
    ``docs_dedup_incremental_maintained`` reads it; this REGISTERED
    form recomputes from a pruned (doc_id, text→fp) scan so the
    DuckDB oracle stays closed over the documents table) plus a tiny
    arrivals-only fp window; the
    near-dup stage joins the ARRIVALS' gram projection against the
    shared bucket projection (arrivals x bucket-mates, not corpus x
    corpus — the right side of the candidate join is pre-filtered to
    arrivals before the shuffle). Both sides reuse the checkpointed
    _gram_projection blocks.

    Contract note: arrival-vs-arrival near-dups resolve pairwise
    (smaller doc_id wins), not transitively — transitive re-clustering
    is the nightly full pass's job (dedup_clusters); an ingest gate
    must decide per document without global state.

    Oracle: same fp window + the registered n-gram pair SQL restricted
    to drop-side arrivals."""
    docs = t["documents"]
    hwm = docs.agg(
        F.floor(F.max("doc_id") * _INCR_HWM_FRACTION).cast("long").alias("h")
    )
    w = Window.partitionBy("fp")
    fps = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        fp_col().alias("fp"),
    ).withColumn("fp_min", F.min("doc_id").over(w))

    grams = _gram_projection(t)
    arr_grams = grams.crossJoin(F.broadcast(hwm)).filter(F.col("doc_id") > F.col("h"))
    near_drops = _near_drop_ids(grams, arr_grams)
    return (
        fps.crossJoin(F.broadcast(hwm))
        .filter((F.col("doc_id") > F.col("h")) & (F.col("doc_id") == F.col("fp_min")))
        .join(near_drops, "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
    )


DEDUP_OPS["docs_dedup_incremental"] = (
    docs_dedup_incremental,
    _INCR_ORACLE.format(
        ngram_pairs=DEDUP_OPS["dedup_ngram_jaccard"][1],
        threshold=CLUSTER_JACCARD,
    ),
)


def _near_drop_ids(a_side: DataFrame, b_side: DataFrame) -> DataFrame:
    """Distinct b-side doc_ids with at least one near-dup pair against
    a SMALLER-id a-side bucket-mate — the drop set of both incremental
    ingest gates (recompute and maintained), factored so the candidate
    join, the ordering predicate, and the pair condition cannot drift
    between them (round-11 self-review). Both inputs carry
    (doc_id, bucket, grams)."""
    a = a_side.alias("a")
    b = b_side.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(near_pair_cond(F.col("a.grams"), F.col("b.grams")))
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )


# --- maintained-corpus incremental dedup (round 11) --------------------------
#: table names of the published corpus index group — the nightly
#: pass's output: the exact-fingerprint column and the candidate-pair
#: gram projection, pinned together by ONE manifest so an ingest gate
#: never reads fps from one nightly run and grams from another
CORPUS_INDEX_TABLES = ("corpus_fps", "corpus_grams")


def _fold_deltas(root: str, make_tables, missing_msg: str) -> int:
    """Commit a delta fold-in with a collision-retry on the ``_dK``
    suffix (round-13 advice): the next-K computation reads the latest
    manifest OUTSIDE ``extend_published``'s store lock, so two
    concurrent fold-ins can pick the same K — the loser hits the
    name-collision ValueError that exists to reject REPLACEMENT, not
    to fail a second writer. The collision is the linearization
    signal: each retry re-reads the (now newer) manifest, recomputes
    K, and rebuilds the (lazy) delta frames, so N rivals converge in
    at most N retries. ``make_tables(k)`` must return the
    ``{name_dK: df}`` dict for suffix k."""
    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import (
        _latest_group,
        _read_manifest,
        extend_published,
    )

    last_err: ValueError | None = None
    for _ in range(100):  # bounded backstop; real contention is tiny
        latest = _latest_group(root)
        if latest is None:
            raise FileNotFoundError(missing_msg)
        pinned = _read_manifest(root, latest)
        k = 1 + max(
            (
                int(n.rsplit("_d", 1)[1])
                for n in pinned
                if "_d" in n and n.rsplit("_d", 1)[1].isdigit()
            ),
            default=0,
        )
        try:
            return extend_published(make_tables(k), root)
        except ValueError as e:
            if "already pinned" not in str(e):
                raise  # not the suffix race — a genuine misuse
            last_err = e
    raise RuntimeError(
        f"delta fold-in at {root} could not claim a _dK suffix after 100 "
        "attempts"
    ) from last_err


def build_corpus_index(t: Frames, root: str) -> int:
    """The NIGHTLY pass that makes ``docs_dedup_incremental``'s scale
    story real (round-11 verdict #4): materialize the standing
    corpus's two dedup projections — ``corpus_fps`` (doc_id, source,
    n_chars, fp: the exact-fingerprint column) and ``corpus_grams``
    (doc_id, bucket, grams: the candidate-pair projection) — as one
    atomically published snapshot group at ``root``. Returns the group
    version.

    Scale design: both projections are single-scan column derivations
    (no shuffle — fp is one md5, grams one tokenize+hash chain per
    row); the write is the existing ``publish_tables`` commit
    protocol, so readers flip between nightly runs atomically and a
    crashed pass leaves the previous index intact. At 100 TB this is
    the once-per-cycle cost the per-arrival gate amortizes against —
    the gate itself never touches corpus ``text`` again."""
    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import publish_tables

    docs = t["documents"]
    fps = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        fp_col().alias("fp"),
    )
    grams = _gram_projection(t)
    # the GLOBAL containment gate's surfaces (r16): the posting list
    # (gram -> doc) and the corpus gram document frequencies. df is
    # published base-only and read possibly-stale by design: it ranks
    # probe CHOICE, and the prefix-filter recall theorem holds for
    # ANY probe subset of the budget size — only postings must be
    # complete (they fold as deltas like the other projections).
    postings = grams.select("doc_id", F.explode("grams").alias("gram"))
    gram_df = postings.groupBy("gram").agg(
        F.count("*").cast("long").alias("df")
    )
    return publish_tables(
        {
            "corpus_fps": fps,
            "corpus_grams": grams,
            "corpus_postings": postings,
            "corpus_df": gram_df,
        },
        root,
    )


def update_corpus_index(t: Frames, root: str) -> int:
    """The incremental nightly pass (round-11 stretch): FOLD the
    admitted arrivals into the standing index by appending their fp +
    gram projections as DELTA tables (``corpus_fps_dK`` /
    ``corpus_grams_dK``) pinned alongside the existing tables in one
    atomic group extension — write cost O(arrivals), the corpus is
    never rewritten or re-tokenized. ``t["documents"]`` is the
    ADMITTED arrival set (what ``docs_dedup_incremental_maintained``
    emitted — rejected arrivals must not enter the index). Returns the
    new group version.

    Compaction: deltas accumulate one table per fold-in; a periodic
    full ``build_corpus_index`` publishes a fresh base-only group, and
    the next ``vacuum_published`` reaps every delta version no
    surviving manifest pins — the classic delta-then-compact cycle,
    here at the granularity of whole pinned tables.

    Readers (``_read_corpus_index``) union base + deltas by name
    prefix from ONE manifest, so a gate never sees a half-folded
    index. Concurrent fold-ins serialize via ``_fold_deltas``'s
    collision-retry on the ``_dK`` suffix."""
    docs = t["documents"]
    fps = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        fp_col().alias("fp"),
    )
    grams = _gram_projection(t)
    return _fold_deltas(
        root,
        lambda k: {
            f"corpus_fps_d{k}": fps,
            f"corpus_grams_d{k}": grams,
            f"corpus_postings_d{k}": grams.select(
                "doc_id", F.explode("grams").alias("gram")
            ),
        },
        f"no corpus index at {root} — build_corpus_index first",
    )


def corpus_ingest_cycle(spark, arrivals: DataFrame, root: str) -> DataFrame:
    """ONE ingest cycle, composed: gate the arrival batch against the
    standing index (``docs_dedup_incremental_maintained``), FOLD the
    admissions into the index (``update_corpus_index`` — so the next
    batch's near-dups of today's admissions are gated), and return the
    admitted documents (doc_id, source, n_chars — the gate's shape).
    This is the call a production ingest loop makes per batch/day.

    Laziness discipline: the admitted set is MATERIALIZED (eager
    localCheckpoint of the text-bearing semi-join) before the fold-in
    commits, so the returned frame never re-runs the gate — and even a
    re-run would be safe, because ``_read_corpus_index`` resolved the
    manifest into concrete pinned ``_v=N`` paths at gate-build time
    (immutable versions: the fold-in's new group cannot leak into an
    already-built plan)."""
    admitted = docs_dedup_incremental_maintained(spark, arrivals, root)
    kept = arrivals.join(
        admitted.select("doc_id"), "doc_id", "left_semi"
    ).localCheckpoint(eager=True)
    update_corpus_index({"documents": kept}, root)
    return kept.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


def _read_corpus_postings(spark, root: str):
    """(postings, gram_df) for the GLOBAL containment gate: postings
    as base ∪ folded deltas (must be COMPLETE — recall rides on
    them), df base-only (possibly stale relative to deltas, by
    design: it only ranks probe choice, and the prefix-filter
    theorem holds for any probe subset of the budget size; grams
    unseen at the last full build read df 0 = rarest, optimal). A
    store built before the postings tables existed raises
    FileNotFoundError — rebuild with ``build_corpus_index``."""
    from functools import reduce

    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import (
        read_published,
    )

    idx = read_published(spark, root)
    if "corpus_postings" not in idx or "corpus_df" not in idx:
        raise FileNotFoundError(
            f"corpus index at {root!r} predates the postings/df tables — "
            "re-run build_corpus_index"
        )
    parts = [
        df
        for name, df in sorted(idx.items())
        if name == "corpus_postings" or name.startswith("corpus_postings_d")
    ]
    return reduce(lambda a, b: a.unionByName(b), parts), idx["corpus_df"]


def containment_gate_global(spark, arrivals: DataFrame, root: str) -> DataFrame:
    """Gate one arrival batch against the standing corpus with the
    EXACT-RECALL containment discipline (r16): an arrival is REJECTED
    iff its gram set is >= CONTAINMENT_MIN contained in ANY corpus
    document — wherever the quote sits (the bucketed
    ``containment_gate_stream`` misses mid-document quotes; this gate
    cannot, by the ``dedup_containment_global`` prefix-filter
    theorem). ``arrivals`` carries (doc_id, text, ...); returns
    (doc_id, admitted, matched_doc) with matched_doc the smallest
    containing corpus doc for rejections, NULL for admissions.

    Per-batch cost is ARRIVAL-proportional: arrival grams explode to
    O(batch x doc length) rows; probe choice ranks them against the
    published df (left join, df 0 for unseen grams — no corpus
    recompute); the probe⋈postings join touches df(gram) postings per
    probe (rarest-first bounds the fan-out); the exact verify joins
    the candidates back to the published gram arrays,
    ``containment_gate_cond`` — one definition with the bucketed
    gate, so the two gates CANNOT drift on what contained means."""
    postings, gram_df = _read_corpus_postings(spark, root)
    _fps, idx_grams = _read_corpus_index(spark, root)

    stage1 = gram_cols()
    arr = (
        arrivals.select("doc_id", stage1["th"].alias("th"))
        .select("doc_id", grams_from_th("th").alias("grams"))
    )
    exploded = arr.select(
        F.col("doc_id").alias("a_id"),
        F.size("grams").alias("n"),
        F.explode("grams").alias("gram"),
    )
    ranked = exploded.join(gram_df, "gram", "left").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("a_id").orderBy(
                F.coalesce(F.col("df"), F.lit(0)), F.col("gram")
            )
        ),
    )
    probes = ranked.filter(
        F.col("rk")
        <= F.floor(
            F.col("n") * F.lit(1 - CONTAINMENT_MIN + _CONTAINMENT_ROUND_SLACK)
        )
        + 1
    ).select("a_id", "gram")
    cand = (
        probes.join(
            postings.select(F.col("doc_id").alias("m_id"), "gram"), "gram"
        )
        .select("a_id", "m_id")
        .distinct()
    )
    blocked = (
        cand.join(arr.select(F.col("doc_id").alias("a_id"), "grams"), "a_id")
        .join(
            idx_grams.select(
                F.col("doc_id").alias("m_id"), F.col("grams").alias("c_grams")
            ),
            "m_id",
        )
        .filter(containment_gate_cond(F.col("grams"), F.col("c_grams")))
        .groupBy(F.col("a_id").alias("doc_id"))
        .agg(F.min("m_id").alias("matched_doc"))
    )
    return (
        arrivals.select("doc_id")
        .join(blocked, "doc_id", "left")
        .select(
            "doc_id",
            F.col("matched_doc").isNull().alias("admitted"),
            "matched_doc",
        )
    )


def _read_corpus_index(spark, root: str):
    """(corpus_fps, corpus_grams) as the UNION of the base tables and
    every folded delta, resolved through ONE manifest — the read side
    of the delta-then-compact index lifecycle. Prefix-matched on the
    CORPUS_INDEX_TABLES names, sorted for deterministic union order."""
    from functools import reduce

    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import (
        read_published,
    )

    idx = read_published(spark, root)
    out = []
    for base in CORPUS_INDEX_TABLES:
        parts = [
            df
            for name, df in sorted(idx.items())
            if name == base or name.startswith(f"{base}_d")
        ]
        out.append(reduce(lambda a, b: a.unionByName(b), parts))
    return tuple(out)


def docs_dedup_incremental_maintained(
    spark, arrivals: DataFrame, root: str
) -> DataFrame:
    """The ingest gate of ``docs_dedup_incremental``, reading the
    MAINTAINED corpus index (``build_corpus_index``'s published group)
    instead of recomputing corpus fingerprints and grams per run —
    the production shape the recompute twin's docstring promises.

    Semantics are identical to the recompute path on the same
    corpus/arrival split (asserted by twin-agreement pytest and the
    shared DuckDB oracle): an arrival survives iff (a) its exact
    fingerprint matches no corpus doc and no smaller-id arrival, and
    (b) no near-dup pair (prefix-bucket n-gram Jaccard >=
    CLUSTER_JACCARD) connects it to any smaller-id document (corpus or
    arrival). Corpus doc_ids sit below every arrival id by the HWM
    split, so the id-ordering predicate is kept only for the
    arrival-vs-arrival pairs.

    Scale design — every per-run cost is ARRIVAL-proportional: the
    corpus index is READ, not built (two parquet scans of (fp) and
    (bucket, grams) — no corpus tokenization, no corpus text scan).
    The exact stage is written as ``anti(arrivals, semi(corpus_fps,
    arrivals))``, NOT ``anti(arrivals, corpus_fps)``: a broadcast
    anti-join can only BUILD its right side, so the direct form
    degrades to a full corpus_fps shuffle once the fp table outgrows
    the broadcast threshold — per ingest batch. The semi-first form
    keeps the corpus side scan-only at ANY corpus size with zero
    forced hints: AQE broadcasts the arrivals' distinct-fp frame for
    the LeftSemi (BuildRight), the semi output is arrival-bounded,
    and the LeftAnti builds THAT. Identical set semantics
    (``x ∉ C ⟺ x ∉ (C ⋉ A)`` for ``x ∈ A``); plan shape pinned in
    tests/test_plans_perf.py. The near-dup stage joins the arrivals'
    gram projection (built from the arrival batch alone) against
    ``corpus_grams ∪ arrival_grams`` keyed on bucket — the arrival
    side is tiny, so AQE broadcasts it and the corpus side is scanned
    once without shuffling. Bench records the anchor: corpus 10x with
    arrivals fixed must move the gate sublinearly."""
    corpus_fps, corpus_grams = _read_corpus_index(spark, root)

    w = Window.partitionBy("fp")
    arr_fps = (
        arrivals.select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            fp_col().alias("fp"),
        )
        .withColumn("fp_min", F.min("doc_id").over(w))
    )

    arr_grams = _gram_projection({"documents": arrivals})
    near_drops = _near_drop_ids(
        corpus_grams.select("doc_id", "bucket", "grams").unionByName(arr_grams),
        arr_grams,
    )
    corpus_fp_hits = corpus_fps.select("fp").join(
        arr_fps.select("fp").distinct(), "fp", "left_semi"
    )
    return (
        arr_fps.filter(F.col("doc_id") == F.col("fp_min"))
        .join(corpus_fp_hits, "fp", "left_anti")
        .join(near_drops, "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
    )


# --- ExactSubstr span dedup (Lee et al. 2022, arXiv:2107.06499) -------------
#: Token-window width for duplicated-span detection. 8 tokens ≈ the
#: paper's 50-BPE-token threshold scaled to this corpus's short docs.
SUBSTR_W = 8

_SUBSTR_SPANS_CTE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents
),
grams AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         md5(array_to_string(t[i+1:i+{SUBSTR_W}], ' ')) AS h
  FROM toks, UNNEST(range(0, len(t) - {SUBSTR_W - 1})) AS u(i)
),
dup AS (SELECT h FROM grams GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)),
hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (h)),
flagged AS (
  SELECT doc_id, pos,
    CASE WHEN pos > COALESCE(MAX(pos + {SUBSTR_W - 1}) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
         THEN 1 ELSE 0 END AS new_grp
  FROM hits
),
grped AS (
  SELECT doc_id, pos, SUM(new_grp) OVER (
    PARTITION BY doc_id ORDER BY pos
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM flagged
),
spans AS (
  SELECT doc_id,
         CAST(MIN(pos) AS INTEGER) AS span_start,
         CAST(MAX(pos) + {SUBSTR_W - 1} AS INTEGER) AS span_end,
         CAST(MAX(pos) + {SUBSTR_W} - MIN(pos) AS INTEGER) AS span_len
  FROM grped GROUP BY doc_id, grp
)
"""


def _dup_spans(docs: DataFrame, w: int = SUBSTR_W) -> DataFrame:
    """Maximal per-doc spans of CROSS-doc duplicated ``w``-token
    windows (the ExactSubstr primitive: any window whose hash occurs
    in more than one document flags its token range).

    Scale design (ref has no analog; this is the Lee-et-al pass a
    pre-training corpus runs where suffix arrays don't distribute):

    - The gram table is one row per token position (corpus-linear, the
      honest cost of hash-based ExactSubstr). Pass 1 groupBys it on the
      window hash with map-side partial agg — MIN/MAX doc_id collapse
      per-hash before the shuffle — and keeps only cross-doc hashes
      (tiny: the duplicated fraction).
    - Pass 2 re-derives grams from the scan and joins the dup-hash set
      back BROADCAST, so the corpus-sized side never shuffles on hash
      again. (If the duplicated fraction were huge, drop the hint and
      AQE falls back to a shuffle join — same semantics.)
    - Span assembly shuffles only the HIT rows (duplicated positions)
      on doc_id; gaps-and-islands windows merge overlapping/adjacent
      [pos, pos+w-1] ranges into maximal spans.
    - Window hash: tokens hash to longs ONCE, and a position's hash
      chains its w token hashes through one xxhash64(l1..lw) — the
      string formulation (array_join over a w-token slice per
      position) measured 14.9 s at a 100× corpus for the gram stage
      alone vs 1.9 s for the token-hash chain (round 7; the same
      fix as minhash shingling). The DuckDB oracle hashes the window
      STRINGS with md5: the RESULT (dup set → spans) is identical for
      any hash injective on the observed windows (collision odds
      ~n²/2⁶⁵ — the shingle-hashing argument at dedup_ngram_jaccard
      applies verbatim; property-tested span sets unchanged). The gram
      projection is lazily checkpointed so pass 2 reads blocks instead
      of re-exploding the corpus (measured 4.9 → 2.5 s at sf0.1).
    """
    toks = _tokens()
    tok_hashes = F.transform(toks, lambda t: F.xxhash64(t))
    win = F.when(
        F.size(F.col("th")) >= w,
        F.transform(
            F.sequence(F.lit(0), F.size(F.col("th")) - w),
            # i <= size - w, so all w element_at indices are in range
            lambda i: F.struct(
                i.cast("int").alias("pos"),
                F.xxhash64(
                    *[F.element_at(F.col("th"), i + j + 1) for j in range(w)]
                ).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,h:bigint>>"))
    grams = (
        spread_small_input(docs)
        .select("doc_id", tok_hashes.alias("th"))
        .select("doc_id", F.explode(win).alias("g"))
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    )
    grams = grams.localCheckpoint(eager=False)
    dup = (
        grams.groupBy("h")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .where(F.col("mn") != F.col("mx"))
        .select("h")
    )
    hits = grams.join(F.broadcast(dup), "h").select("doc_id", "pos")
    ordered = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (w - 1)).over(
        ordered.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_grp = F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-2)) + 1, 1).otherwise(0)
    grp = F.sum(new_grp).over(ordered.rowsBetween(Window.unboundedPreceding, 0))
    return (
        hits.withColumn("grp", grp)
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + (w - 1)).cast("int").alias("span_end"),
            (F.max("pos") + w - F.min("pos")).cast("int").alias("span_len"),
        )
        .drop("grp")
    )


@_register(
    "docs_dup_spans",
    _SUBSTR_SPANS_CTE
    + """
SELECT doc_id, span_start, span_end, span_len FROM spans
""",
)
def docs_dup_spans(t: Frames) -> DataFrame:
    """ExactSubstr detection output: for every document, the maximal
    token ranges whose 8-token windows also occur in another document.
    md5 window hashes on both engines → fully DuckDB-oracled."""
    return _dup_spans(t["documents"])


@_register(
    "docs_exact_substr_dedup",
    _SUBSTR_SPANS_CTE
    + f"""
, tok_rows AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos, t[i+1] AS tok
  FROM toks, UNNEST(range(0, len(t))) AS u(i)
),
kept AS (
  SELECT tr.doc_id, tr.pos, tr.tok
  FROM tok_rows tr
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = tr.doc_id AND tr.pos BETWEEN s.span_start AND s.span_end)
)
SELECT t.doc_id,
       COALESCE(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS clean_text,
       CAST(len(t.t) - COUNT(k.tok) AS INTEGER) AS n_tokens_removed
FROM toks t LEFT JOIN kept k ON k.doc_id = t.doc_id
GROUP BY t.doc_id, len(t.t)
""",
)
def docs_exact_substr_dedup(t: Frames) -> DataFrame:
    """ExactSubstr applied: each document with its duplicated spans CUT
    OUT (the Lee et al. remove-don't-drop policy — unlike doc-level
    dedup, only the repeated substring goes; unique prose stays).

    Scale design: spans aggregate to one small array per affected doc
    (affected docs ≪ corpus), joined back to the corpus; the token
    filter is a lambda over the token array with the element INDEX —
    pure columnar expression, no explode of the corpus, no Python.
    Docs without spans pass through with whitespace-normalized text
    (both engines rejoin tokens with a single space)."""
    docs = t["documents"]
    spans_arr = (
        _dup_spans(docs)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("span_start", "span_end")).alias("spans"))
    )
    toks = _tokens()
    # r16 fast path (guide §1.2 — per-task work): the indexed
    # filter×exists lambda is interpreted per TOKEN; affected docs are
    # the small duplicated sliver, so gate it behind a CASE on the
    # left-join miss — unaffected docs (no spans row) take the codegen
    # array_join(toks) branch, which is literally what the lambda
    # reduces to when the span array is empty (kept = toks, removed =
    # 0). CASE WHEN evaluates branches lazily per row, so the
    # interpreted path now runs only over flagged docs.
    kept = F.filter(
        toks,
        lambda x, i: ~F.exists(
            F.col("spans"), lambda s: (i >= s["span_start"]) & (i <= s["span_end"])
        ),
    )
    has_spans = F.col("spans").isNotNull()
    return (
        docs.join(F.broadcast(spans_arr), "doc_id", "left")
        .select(
            "doc_id",
            F.when(has_spans, F.array_join(kept, " "))
            .otherwise(F.array_join(toks, " "))
            .alias("clean_text"),
            F.when(has_spans, (F.size(toks) - F.size(kept)).cast("int"))
            .otherwise(F.lit(0).cast("int"))
            .alias("n_tokens_removed"),
        )
    )


# --- edit-distance similarity join via deletion neighborhoods (round 12) ----
def _fastss_verified_pairs(
    names: DataFrame, variants: DataFrame, max_d: int
) -> DataFrame:
    """Candidate-then-verify for the FastSS family (r16 restructure —
    guide §2.3 "shuffle keys and metadata instead of payloads"):

    - the variant equi-join carries (xxhash64(variant), custkey) ONLY —
      8+8 bytes per row instead of variant + name strings (~5x fewer
      shuffle bytes), and the join compares longs. Hash collisions can
      only ADD candidates, never drop one (equal variants hash equal),
      and every added candidate dies at the exact verify below, so the
      result set is provably unchanged;
    - candidates go DISTINCT on the id pair BEFORE the levenshtein
      verify, so the kernel runs once per candidate pair instead of
      once per shared variant (a d<=1 pair shares ~L variants);
    - names re-attach by custkey (AQE broadcasts the dim-sized side),
      and the verify uses the THRESHOLD form of levenshtein — the DP
      explores the |i-j| <= max_d band and early-exits, O(L·d) instead
      of O(L²), returning -1 above the bound (one evaluation yields
      both the filter and the distance column).

    Returns (custkey_a, custkey_b, distance) with distance <= max_d —
    bit-identical to verifying inside the variant join; recall is the
    FastSS shared-variant implication, unchanged.

    r17: ``vh`` is lazily localCheckpointed — both join sides consume
    it, and without the checkpoint each side re-ran the variant
    explode (an interpreted higher-order transform over every name:
    the plan showed TWO Generate nodes). One materialization of the
    (8+8)-byte rows now feeds the broadcast build AND the probe side
    (measured 6.2 → 4.4 s on names_d2 at sf0.1, interleaved A/B)."""
    vh = variants.select(
        F.xxhash64("variant").alias("vh"), F.col("entity_id").alias("k")
    ).localCheckpoint(eager=False)
    cand = (
        vh.alias("a")
        .join(vh.alias("b"), "vh")
        .filter(F.col("a.k") < F.col("b.k"))
        .select(F.col("a.k").alias("custkey_a"), F.col("b.k").alias("custkey_b"))
        .distinct()
    )
    na = names.select(
        F.col("c_custkey").alias("custkey_a"), F.col("c_name").alias("name_a")
    )
    nb = names.select(
        F.col("c_custkey").alias("custkey_b"), F.col("c_name").alias("name_b")
    )
    return (
        cand.join(na, "custkey_a")
        .join(nb, "custkey_b")
        .select(
            "custkey_a",
            "custkey_b",
            F.levenshtein("name_a", "name_b", max_d).alias("distance"),
        )
        .filter(F.col("distance") >= 0)
        .select(
            "custkey_a", "custkey_b", F.col("distance").cast("long").alias("distance")
        )
    )


@_register(
    "dedup_fuzzy_names",
    """
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS distance
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def dedup_fuzzy_names(t: Frames) -> DataFrame:
    """Exact edit-distance-1 similarity self-join over customer names
    — the entity-resolution primitive (typo'd signups, OCR'd vendor
    lists, near-identical merchant strings): every pair of names
    within Levenshtein distance 1, with the distance.

    Scale design — FastSS deletion-neighborhood blocking (Bocek et
    al. 2007, "Fast Similarity Search in Large Dictionaries"): edit
    distance ≤ 1 IMPLIES the strings share a member of
    {s} ∪ {s minus one character} — a substitution at position i
    means both yield the same string deleting position i; an
    insertion/deletion means the longer one's deletion IS the shorter
    string; equality shares the identity variant. (Only an
    implication: distance-2 pairs like 'aaab'/'aaba' can share a
    variant — hypothesis-pinned in tests/test_properties.py.) So each
    name emits length+1 variant keys (a BOUNDED projection, the
    DAU/WAU ×7 idiom), candidates come from ONE variant-keyed
    equi-join — never the all-pairs cross join the naive form needs —
    recall is EXACT by the implication, and the exact
    ``levenshtein ≤ 1`` filter removes the blocking false positives. The
    ORACLE is the all-pairs form (fine at sf0.01's 1.5k names); the
    Spark plan is the production shape: at 10⁹ names the fan-out is
    ~L× rows keyed on near-unique variants, while all-pairs is 10¹⁸
    comparisons. Variant-group size is bounded by how many real
    strings sit within distance 1 of a given deletion — adversarial
    corpora (all strings equal) degrade to the exact-dup group-size
    class, the same skew profile as ``dedup_exact``; generalizes to
    distance k via k-deletion neighborhoods. No window, no driver
    loop. r16: candidates and verification run through
    :func:`_fastss_verified_pairs` — the variant join carries hashed
    keys instead of strings and the levenshtein verify runs once per
    DISTINCT candidate pair in threshold form (provably the same
    result set; rationale on the helper)."""
    names = spread_small_input(t["customer"]).select("c_custkey", "c_name")
    return _fastss_verified_pairs(
        names, deletion_variants(names, "c_custkey", "c_name"), 1
    )


def deletion_variants2(df: DataFrame, id_col: str, name_col: str) -> DataFrame:
    """Depth-<=2 deletion neighborhood (one row per (entity, variant)):
    {s} ∪ {s minus one char} ∪ {s minus two chars}. The FastSS
    blocking key set for edit distance <= 2: lev(a, b) <= 2 IMPLIES a
    and b share a member (delete from each side the <=2 positions its
    half of the edit script touches and the remainders coincide) —
    recall is exact, precision comes from the downstream levenshtein
    filter. The converse is false (e.g. 'xyab' and 'abxy' share the
    variant 'ab' at distance 4) — hypothesis-pinned.

    Memory/recall trade vs the d<=1 neighborhood
    (:func:`deletion_variants`): fan-out grows from length+1 to
    1 + L + L(L-1)/2 ≈ L²/2 variants per name (~170 for L=18 vs 19),
    i.e. ~9x the index size and join input, buying exact recall one
    edit further out. ``array_distinct`` collapses the duplicate
    variants repeated characters produce before the explode."""
    n = name_col
    d1 = (
        f"transform(sequence(1, length({n})), i -> "
        f"concat(substring({n}, 1, i-1), substring({n}, i+1, length({n}))))"
    )
    d2 = (
        f"CASE WHEN length({n}) >= 2 THEN flatten("
        f"transform(sequence(1, length({n}) - 1), i -> "
        f"transform(sequence(i + 1, length({n})), j -> "
        f"concat(substring({n}, 1, i-1), substring({n}, i+1, j-i-1), "
        f"substring({n}, j+1, length({n})))))) "
        f"ELSE array() END"
    )
    return df.select(
        F.col(id_col).alias("entity_id"),
        F.col(name_col).alias("name"),
        F.explode(
            F.array_distinct(
                F.concat(F.array(F.col(n)), F.expr(d1), F.expr(d2))
            )
        ).alias("variant"),
    )


@_register(
    "dedup_fuzzy_names_d2",
    """
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS distance
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def dedup_fuzzy_names_d2(t: Frames) -> DataFrame:
    """Edit-distance-<=2 similarity self-join over customer names —
    ``dedup_fuzzy_names`` one step deeper, for the typo'd-identity
    surface where a single fat-finger plus an OCR slip still denotes
    one entity (reference: feature_engineering.py's name fields).

    Scale design — FastSS depth-2 deletion-neighborhood blocking
    (:func:`deletion_variants2`): candidates come from ONE
    variant-keyed equi-join over the depth-<=2 neighborhoods (exact
    recall by the shared-variant implication), then the exact
    ``levenshtein <= 2`` filter drops the blocking false positives.
    The ORACLE is the all-pairs quadratic form (fine at sf0.01's 1.5k
    names); the Spark plan is the production shape — at 10⁹ names the
    fan-out is ~L²/2 rows keyed on near-unique variants vs 10¹⁸
    all-pairs comparisons. r16: candidates and verification run
    through :func:`_fastss_verified_pairs` — the variant join carries
    hashed keys instead of strings, the id-pair DISTINCT collapses the
    O(L²) shared variants per true pair BEFORE any levenshtein runs,
    and the verify is the threshold form, once per candidate pair
    (provably the same result set; rationale on the helper — a d<=2
    pair shares up to ~L² variants, so this is ~L² fewer kernel
    evaluations per pair; plan captured in plans/r16/)."""
    names = spread_small_input(t["customer"]).select("c_custkey", "c_name")
    return _fastss_verified_pairs(
        names, deletion_variants2(names, "c_custkey", "c_name"), 2
    )


_FUZZY_CANONICAL_ORACLE = """
WITH RECURSIVE fpairs AS (
  SELECT custkey_a, custkey_b FROM ({fuzzy_pairs})
),
fedges AS (
  SELECT custkey_a AS a, custkey_b AS b FROM fpairs
  UNION
  SELECT custkey_b, custkey_a FROM fpairs
),
fnodes AS (SELECT DISTINCT a AS n FROM fedges),
freach(n, m) AS (
  SELECT n, n FROM fnodes
  UNION
  SELECT r.n, e.b FROM freach r JOIN fedges e ON r.m = e.a
),
fcomp AS (SELECT n AS c_custkey, MIN(m) AS canonical_custkey FROM freach GROUP BY n)
SELECT c_custkey, canonical_custkey,
       COUNT(*) OVER (PARTITION BY canonical_custkey) AS cluster_size
FROM fcomp
"""


@_register("dedup_fuzzy_canonical", None)  # SQL bound below (nests the fuzzy oracle)
def dedup_fuzzy_canonical(t: Frames) -> DataFrame:
    """Entity-resolution canonicalization: connected components over
    the Levenshtein≤1 name pairs, mapping every clustered customer to
    the minimum custkey of its fuzzy cluster — the step that turns
    the pairwise fuzzy join into an actionable merge decision (the
    ``dedup_clusters`` pattern applied to entities instead of
    documents). Covers only customers with at least one fuzzy pair;
    singletons are trivially their own canonical.

    Transitivity is deliberate AND the thing to audit: edit distance
    is not transitive, so chains (A~B~C with d(A,C)=2) merge — on
    digit-dense synthetic keys that builds large components, exactly
    the over-merge a production ER pass bounds with extra blocking
    keys. cluster_size in the output is that audit signal.

    Scale design: the pair stream is the deletion-neighborhood join
    (bounded fan-out); CC is the module's min-label propagation with
    pointer jumping (O(log diameter) rounds of keyed joins). The
    ORACLE's recursive closure is O(nodes x component) and quadratic
    on a giant component — fine at the driver's sf0.01 (2.25M reach
    rows), deliberately not run at sf0.1 (the Spark side is the
    scalable plan; the oracle defines semantics).

    r16 session 3: PLAIN propagation CC here, contracted CC only on
    the d2 twin — measured per graph shape exactly as the contraction
    docstring prescribes: on the SPARSE d1 graph (262k pairs at
    sf0.1) plain CC min 3.01 s vs contracted 3.37 s (the contraction
    is one extra edge-list pass that doesn't pay off), while on the
    dense d2 graph (4M pairs) contracted wins 8.6 s vs 15.1 s.
    Output identical either way (equality pinned on random graphs,
    tests/test_properties.py / test_llm_ops.py)."""
    pairs = dedup_fuzzy_names(t).select("custkey_a", "custkey_b")
    comp = connected_components(
        pairs, src="custkey_a", dst="custkey_b"
    )
    w = Window.partitionBy("component")
    return comp.select(
        F.col("node").alias("c_custkey"),
        F.col("component").alias("canonical_custkey"),
        F.count("*").over(w).alias("cluster_size"),
    )


DEDUP_OPS["dedup_fuzzy_canonical"] = (
    dedup_fuzzy_canonical,
    _FUZZY_CANONICAL_ORACLE.format(fuzzy_pairs=DEDUP_OPS["dedup_fuzzy_names"][1]),
)


#: The d<=2 canonicalization oracle (r15). Same recursive-closure
#: semantics as _FUZZY_CANONICAL_ORACLE, two differences:
#:
#: 1. ONE round of star contraction BEFORE the recursion: every node
#:    collapses to min(self, min neighbor) (plain grouped SQL), the
#:    closure then runs over the CONTRACTED graph. Exact for CC — the
#:    component's true minimum maps to itself (all its neighbors are
#:    larger), inter-star edges survive contraction, so the contracted
#:    graph has the same components and the same minimum labels. On
#:    the d<=2 pair graph this is the difference between a 40 s and a
#:    ~4 s oracle at sf0.01: 204k pairs collapse the 1500-customer
#:    graph to a handful of contracted nodes before the O(nodes x
#:    component) reach-set recursion ever runs (measured in-round).
#:    A label with NO contracted edge is a whole component contracted
#:    into one star; its minimum IS the label (two distinct labels in
#:    one component force an inter-star edge), hence the COALESCE.
#: 2. Per-cluster over-merge audit: cluster_edges + edge_density
#:    (2E / n(n-1)) — the dash_ring_triangles idiom applied to entity
#:    clusters (a density-1 cluster is mutual typo structure, a
#:    near-zero one is a transitive chain gluing strangers).
_FUZZY_CANONICAL_D2_ORACLE = f"""
WITH RECURSIVE fpairs AS (
  SELECT custkey_a, custkey_b FROM ({{fuzzy_pairs}})
),
fedges AS (
  SELECT custkey_a AS a, custkey_b AS b FROM fpairs
  UNION
  SELECT custkey_b, custkey_a FROM fpairs
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
  UNION
  SELECT r.n, e.b FROM creach r JOIN cedges e ON r.m = e.a
),
ccomp AS (SELECT n, MIN(m) AS root FROM creach GROUP BY n),
fcomp AS (
  SELECT s.n AS c_custkey, COALESCE(c.root, s.lab) AS canonical_custkey
  FROM fstar s LEFT JOIN ccomp c ON c.n = s.lab
),
fsize AS (
  SELECT canonical_custkey, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM fcomp GROUP BY 1
),
fedge_cnt AS (
  SELECT c.canonical_custkey, CAST(COUNT(*) AS BIGINT) AS cluster_edges
  FROM fpairs p JOIN fcomp c ON c.c_custkey = p.custkey_a
  GROUP BY 1
)
SELECT f.c_custkey, f.canonical_custkey, s.cluster_size, e.cluster_edges,
       {dround_sql("2.0 * e.cluster_edges / (s.cluster_size * (s.cluster_size - 1))")}
         AS edge_density
FROM fcomp f
JOIN fsize s USING (canonical_custkey)
JOIN fedge_cnt e USING (canonical_custkey)
"""


@_register("dedup_fuzzy_canonical_d2", None)  # SQL bound below (nests the d2 oracle)
def dedup_fuzzy_canonical_d2(t: Frames) -> DataFrame:
    """Depth-2 entity canonicalization: connected components over the
    Levenshtein<=2 pair stream (``dedup_fuzzy_names_d2``), every
    clustered customer mapped to its cluster's minimum custkey — the
    actionable merge decision for the d<=2 surface, one edit deeper
    than ``dedup_fuzzy_canonical`` (r14 verdict #3).

    Transitive over-merge is MUCH stronger at d<=2 (at the synthetic
    SFs the whole digit-dense key space chains into one component), so
    the audit signal is first-class output: ``cluster_edges`` and
    ``edge_density`` = 2E/n(n-1) per cluster — the
    ``dash_ring_triangles`` clique-vs-chain idiom applied to entity
    clusters. A production ER pass reads density to decide whether a
    cluster is mutual typo structure (near 1) or a transitive chain
    gluing strangers (near 0) before acting on the merge.

    Scale design: the pair stream is the depth-2 deletion-neighborhood
    join (bounded variant-keyed fan-out, never all-pairs); CC is the
    module's min-label propagation with pointer jumping (O(log
    diameter) keyed-join rounds); size/edge audits are two keyed
    aggregates over O(clustered nodes) and O(pairs) rows. The ORACLE
    runs one star-contraction round before its recursive closure —
    exact (the docstring above the SQL carries the argument) and ~10x
    cheaper on the dense d2 graph; like the d1 oracle it is the
    semantics anchor, deliberately not run at sf0.1.

    The pair stream is lazily localCheckpointed (the
    ``_gram_projection`` discipline): it feeds BOTH the CC iterations
    and the edge audit, and without the checkpoint the 4M-pair
    variant join re-executes per consumer (measured ~24 s -> ~15 s at
    sf0.1)."""
    pairs = (
        dedup_fuzzy_names_d2(t)
        .select("custkey_a", "custkey_b")
        .localCheckpoint(eager=False)
    )
    comp = connected_components_contracted(
        pairs, src="custkey_a", dst="custkey_b"
    )
    members = comp.select(
        F.col("node").alias("c_custkey"),
        F.col("component").alias("canonical_custkey"),
    )
    sizes = members.groupBy("canonical_custkey").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    edges = (
        pairs.join(members, pairs.custkey_a == members.c_custkey)
        .groupBy("canonical_custkey")
        .agg(F.count("*").cast("long").alias("cluster_edges"))
    )
    return (
        members.join(sizes, "canonical_custkey")
        .join(edges, "canonical_custkey")
        .select(
            "c_custkey",
            "canonical_custkey",
            "cluster_size",
            "cluster_edges",
            dround(
                2.0
                * F.col("cluster_edges")
                / (F.col("cluster_size") * (F.col("cluster_size") - 1))
            ).alias("edge_density"),
        )
    )


DEDUP_OPS["dedup_fuzzy_canonical_d2"] = (
    dedup_fuzzy_canonical_d2,
    _FUZZY_CANONICAL_D2_ORACLE.format(
        fuzzy_pairs=DEDUP_OPS["dedup_fuzzy_names_d2"][1]
    ),
)


# --- streaming fuzzy-entity gate (round 13) ---------------------------------
#: base table names of the published FastSS entity index; fold-ins
#: append ``_dK`` deltas (the corpus-index delta-then-compact cycle).
ENTITY_INDEX_TABLES = ("entity_names", "entity_variants")


def deletion_variants(df: DataFrame, id_col: str, name_col: str) -> DataFrame:
    """FastSS deletion neighborhood as rows: for each entity, the
    identity string plus every single-character deletion —
    (entity_id, name, variant), length+1 rows per entity. The ONE
    shared blocking-key definition behind ``dedup_fuzzy_names`` and
    the entity index/gate (d<=1 implies a shared variant)."""
    return df.select(
        F.col(id_col).alias("entity_id"),
        F.col(name_col).alias("name"),
        F.explode(
            F.concat(
                F.array(F.col(name_col)),
                F.expr(
                    f"transform(sequence(1, length({name_col})), i -> "
                    f"concat(substring({name_col}, 1, i-1), "
                    f"substring({name_col}, i+1, length({name_col}))))"
                ),
            )
        ).alias("variant"),
    )


def _variants_at(depth: int):
    """The FastSS neighborhood generator for a gate depth — d<=1
    (:func:`deletion_variants`, length+1 fan-out) or d<=2
    (:func:`deletion_variants2`, 1+L+L(L-1)/2 — the documented
    memory/recall trade). ONE dispatch point shared by index build,
    delta fold-in, and gate, so the three sites cannot drift on what
    neighborhood the published variants encode; the caller contract
    is that an index is built, folded, and gated at ONE depth."""
    if depth == 1:
        return deletion_variants
    if depth == 2:
        return deletion_variants2
    raise ValueError(f"unsupported FastSS gate depth {depth} (1 or 2)")


def build_entity_index(names: DataFrame, root: str, depth: int = 1) -> int:
    """Publish the standing entity set's FastSS index as one atomic
    snapshot group: ``entity_names`` (entity_id, name) and
    ``entity_variants`` (entity_id, name, variant) — the
    ``build_corpus_index`` lifecycle applied to entity resolution.
    ``names`` must carry (entity_id, name). Returns the group
    version. Both projections are single-scan derivations (the
    variant fan-out is the bounded length+1 explode at depth 1,
    ~L²/2 at depth 2); readers flip atomically between publishes.
    ``depth`` picks the neighborhood (see ``_variants_at``) and MUST
    match the gate's depth."""
    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import publish_tables

    base = names.select("entity_id", "name")
    return publish_tables(
        {
            "entity_names": base,
            "entity_variants": _variants_at(depth)(base, "entity_id", "name"),
        },
        root,
    )


def update_entity_index(admitted: DataFrame, root: str, depth: int = 1) -> int:
    """FOLD admitted arrivals into the standing entity index as
    ``_dK`` delta tables pinned in one atomic group extension — write
    cost O(admissions), the standing set is never rewritten (the
    ``update_corpus_index`` delta cycle; a periodic
    ``build_entity_index`` + vacuum compacts). Concurrent fold-ins
    serialize via ``_fold_deltas``'s collision-retry on ``_dK``."""
    base = admitted.select("entity_id", "name")
    return _fold_deltas(
        root,
        lambda k: {
            f"entity_names_d{k}": base,
            f"entity_variants_d{k}": _variants_at(depth)(base, "entity_id", "name"),
        },
        f"no entity index at {root} — build_entity_index first",
    )


def _read_entity_index(spark, root: str):
    """(entity_names, entity_variants) as base ∪ deltas through ONE
    manifest — the ``_read_corpus_index`` read side."""
    from functools import reduce

    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import (
        read_published,
    )

    idx = read_published(spark, root)
    out = []
    for base in ENTITY_INDEX_TABLES:
        parts = [
            df
            for name, df in sorted(idx.items())
            if name == base or name.startswith(f"{base}_d")
        ]
        out.append(reduce(lambda a, b: a.unionByName(b), parts))
    return tuple(out)


def fuzzy_entity_gate(
    spark, arrivals: DataFrame, root: str, depth: int = 1
) -> DataFrame:
    """Gate one arrival batch (entity_id, name) against the standing
    entity index: an arrival is REJECTED iff its name sits within
    Levenshtein distance ``depth`` (default 1; depth 2 = the r16 gate
    over the ``deletion_variants2`` neighborhood, anchored to the
    ORACLED d2 pair/keeper ops in tests) of (a) any indexed entity or
    (b) any smaller-id arrival in the same batch — the
    ``docs_dedup_incremental`` id-ordering discipline applied to
    entities, deliberately conservative on intra-batch chains (a
    chain A~B~C rejects both B and C; the nightly
    ``dedup_fuzzy_canonical`` pass is where chain merges are audited).
    Under singleton batches the gate is exactly greedy-by-id; one
    whole-table batch equals "keep iff no smaller-id fuzzy pair",
    the ``dedup_fuzzy_names``-derived keeper set (the exact anchors
    pinned in tests). Returns (entity_id, name, admitted,
    matched_entity) — matched_entity the smallest blocking entity for
    rejections, NULL for admissions.

    Scale design — per-batch cost is ARRIVAL-proportional: the index
    is READ (two parquet scans), never rebuilt; arrival variants are
    the bounded length+1 fan-out; the only joins are variant-keyed
    equi-joins whose arrival side is batch-bounded (AQE broadcasts
    it, the index side is scanned once — the semi-first discipline);
    the exact levenshtein filter runs on candidate pairs only."""
    _, idx_variants = _read_entity_index(spark, root)
    arr = arrivals.select("entity_id", "name")
    arr_var = _variants_at(depth)(arr, "entity_id", "name").select(
        F.col("entity_id").alias("a_id"),
        F.col("name").alias("a_name"),
        "variant",
    )
    idx_var = idx_variants.select(
        F.col("entity_id").alias("m_id"),
        F.col("name").alias("m_name"),
        "variant",
    )
    # candidates vs the standing index (blocks in either id
    # direction) + vs same-batch arrivals (only a SMALLER id blocks —
    # keeps the intra-batch relation acyclic), one unioned
    # variant-keyed join
    cand = (
        arr_var.join(
            idx_var.withColumn("is_index", F.lit(True)).unionByName(
                arr_var.select(
                    F.col("a_id").alias("m_id"),
                    F.col("a_name").alias("m_name"),
                    "variant",
                    F.lit(False).alias("is_index"),
                )
            ),
            "variant",
        )
        .filter(F.col("m_id") != F.col("a_id"))
        .drop("variant")
        .distinct()
    )
    blocked = (
        cand.filter(F.levenshtein("a_name", "m_name") <= depth)
        .filter(F.col("is_index") | (F.col("m_id") < F.col("a_id")))
        .groupBy(F.col("a_id").alias("entity_id"))
        .agg(F.min("m_id").alias("matched_entity"))
    )
    return (
        arr.join(blocked, "entity_id", "left")
        .select(
            "entity_id",
            "name",
            F.col("matched_entity").isNull().alias("admitted"),
            "matched_entity",
        )
    )
