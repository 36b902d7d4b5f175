"""Streaming curation: the filter-at-ingest deployment mode of the
batch curation pipeline (the round-7 verdict's stretch item #8).

A pre-training data platform has two moments to curate: batch (rebuild
the corpus from raw) and ingest (gate each arriving document before it
ever lands). This module is the ingest twin of the STATELESS +
EXACT-DEDUP slice of ``operators/curation.docs_curate_pipeline``:

- quality gate (length/diversity score >= 0.5),
- language gate (>= 1 English marker token),
- eval-source quarantine (source != DECON_EVAL_SOURCE),
- PII scrub accounting (clean_fp + n_pii),
- exact dedup as ``dropDuplicatesWithinWatermark`` on the lowercase-
  trimmed md5 fingerprint, applied BEFORE the gates — the streaming
  form of the batch keeper election: the first arrival per fingerprint
  is the class representative and its gates decide the class's fate
  (an eval-source first arrival quarantines the class). Replays and
  late duplicates inside the watermark horizon are dropped, and key
  state evicts once the watermark passes (O(keys per horizon), never
  O(all fingerprints ever) — the same bounded-state argument as
  streaming/windows.dedup_stream).

Parity contract: the survivor clean_fp multiset equals the batch
pipeline's when BOTH hold:

1. every duplicate class agrees on the projected columns across its
   members (the fixtures' duplicates are byte-identical replays, so
   any representative projects the same values) — OR duplicates reach
   the dedup operator in separate micro-batches ordered consistently
   with the batch keeper election. The precision matters because
   ``dropDuplicatesWithinWatermark`` keeps the first row PROCESSED per
   key: event time only drives state eviction, never survivor
   election, and within one availableNow micro-batch processing order
   is task scheduling, not ingest_ts order (tests that need real
   arrival order pace the file source with ``max_files_per_trigger``);
   AND
2. every duplicate class's arrivals span LESS than the watermark
   horizon: ``dropDuplicatesWithinWatermark`` only guarantees
   dedup for arrivals within the delay threshold of each other, so a
   class whose first and last ingest_ts sit further apart than the
   watermark may emit a second survivor the batch global election
   never would. The fixture's ingest clock is doc_id seconds, so the
   condition is max intra-class doc_id gap < the watermark in seconds
   (asserted per-fixture by the equivalence tests in
   tests/test_streaming_windows.py).

Duplicate classes spanning the eval source AND a training source are
NOT arrival-defined (round 9, DEFAULT-ON since round 10): arriving
fingerprints are checked in-row against the static eval-source
fingerprint set (broadcast alongside the decon gram array), so a
train-source copy of eval text is quarantined even when it arrives
before — or instead of — the eval copy, exactly matching the batch
pipeline's keeper-independent exact-fp quarantine. The eval set
defaults to the source's own ``DECON_EVAL_SOURCE`` docs snapshotted at
stream start (eval benchmarks change on release cadence, so a
start-time snapshot is the production semantics too); pass a DataFrame
to override, or ``eval_docs=None`` to opt OUT into gates-only mode —
the round-9 verdict's foot-gun (an ingest gate whose safety depended
on the caller remembering an optional argument) now requires the extra
argument to DISABLE, not to enable. Gates-only mode leaves mixed
classes arrival-defined (mirrored by the gates-only batch comparison
test).

Decontamination joins the slice as a STREAM-STATIC gate: the eval-set
gram table is static (benchmarks change on release cadence, not per
micro-batch), collapses to one broadcast array row, and each arriving
doc is checked with an in-row ``arrays_overlap`` against it — the
hashes come from the same ``decon_gram_hashes`` definition the batch
semi-join uses, so the two modes agree gram-for-gram.

The gate expressions come from ``operators/curation.curation_columns``
— the shared feature module, so batch and stream CANNOT drift (the
same one-definition idiom as functions/features.py; batch-equivalence
is asserted in tests/test_streaming_windows.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_fraud_detection_lakehouse_spark.operators.curation import (
    _tokens_col,
    curation_columns,
    decon_gram_hashes,
)
from real_time_fraud_detection_lakehouse_spark.operators.text import (
    DECON_EVAL_SOURCE,
    DECON_GRAM,
)
from real_time_fraud_detection_lakehouse_spark.streaming.batchsink import (
    parquet_source,
    run_partitioned_foreach_stream,
    run_to_parquet,
    write_batch_partition,
)

#: synthetic ingest clock epoch for the fixture: doc_id seconds after a
#: fixed base — deterministic, monotone in doc_id, so "first arrival"
#: has a defined meaning on replayed fixtures
INGEST_BASE = "2024-01-01 00:00:00"


def write_doc_stream_fixture(
    spark: SparkSession, sf_dir: str, path: str, replays: int = 2
) -> int:
    """Materialize the documents table as a streaming source fixture:
    each doc carries a deterministic ingest_ts (INGEST_BASE + doc_id
    seconds), appended ``replays`` times to simulate an at-least-once
    upstream (file re-drop / redelivery). Returns total rows written."""
    from real_time_fraud_detection_lakehouse_spark.core.catalog import table

    docs = table(spark, sf_dir, "documents").withColumn(
        "ingest_ts",
        F.lit(INGEST_BASE).cast("timestamp")
        + F.make_dt_interval(secs=F.col("doc_id").cast("double")),
    )
    for i in range(replays):
        docs.write.mode("overwrite" if i == 0 else "append").parquet(path)
    return docs.count() * replays


def eval_gram_frame(eval_docs: DataFrame) -> DataFrame:
    """Distinct eval gram hashes as one ``gram`` column — THE eval-side
    gram derivation, shared by the exact array gate, the bloom-bitmap
    build, and (via the same ``decon_gram_hashes``) the batch ops."""
    toks = _tokens_col()
    th = F.transform(toks, lambda x: F.xxhash64(x))
    return (
        eval_docs.filter(F.size(toks) >= DECON_GRAM)
        .select(F.explode(decon_gram_hashes(th)).alias("gram"))
        .distinct()
    )


def eval_fp_row(eval_docs: DataFrame) -> DataFrame:
    """ONE row holding the sorted distinct eval fingerprint array —
    the exact-duplicate quarantine's broadcast side, shared by both
    decon modes (fingerprints are per-DOC, bounded by the eval set)."""
    return eval_docs.select(curation_columns()["fp"].alias("fp")).agg(
        F.coalesce(
            F.sort_array(F.collect_set("fp")), F.array().cast("array<string>")
        ).alias("eval_fps")
    )


def eval_gate_row(eval_docs: DataFrame) -> DataFrame:
    """Collapse a STATIC eval-benchmark document set to ONE row holding
    the sorted distinct gram-hash array (decontamination) AND the
    sorted distinct fingerprint array (exact-duplicate quarantine) —
    the broadcast side of both streaming eval gates. Eval sets are
    small by definition (a benchmark, not a corpus), so both arrays
    are bounded the same way docs_strip_boilerplate's fset is; rebuilt
    on benchmark release, not per micro-batch. Composed from the
    shared halves above."""
    grams = eval_gram_frame(eval_docs).agg(
        F.coalesce(
            F.sort_array(F.collect_set("gram")), F.array().cast("array<bigint>")
        ).alias("eval_grams")
    )
    return grams.crossJoin(eval_fp_row(eval_docs))


#: default sentinel: derive the eval set from the source's own
#: DECON_EVAL_SOURCE docs at stream start (quarantine ON by default).
#: A private object(), not a string — the public parameter type stays
#: DataFrame | None, and no accidental string value can slip past the
#: identity check into the DataFrame path.
_AUTO_EVAL: object = object()


def curation_stream(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
    eval_docs: DataFrame | None = _AUTO_EVAL,  # type: ignore[assignment]
    max_files_per_trigger: int | None = None,
    decon_mode: str = "exact",
    gopher_gate: bool = False,
) -> DataFrame:
    """Run the filter-at-ingest gates over a document stream with
    availableNow (test/backfill trigger; production drops the trigger
    and runs continuous micro-batches against the landing zone).
    Both stream-static eval gates are ON BY DEFAULT (round-10 verdict
    #4): decontamination (docs sharing any DECON_GRAM-token gram with
    the eval set are dropped at ingest) and the exact-fp quarantine
    (docs whose fingerprint any eval doc holds are dropped REGARDLESS
    of arrival order — the order-independent mixed-class rule matching
    the batch pipeline's keeper-independent quarantine; see the module
    parity contract). ``eval_docs`` defaults to the source's
    ``DECON_EVAL_SOURCE`` docs snapshotted at stream start; pass a
    STATIC DataFrame with a text column to override, or ``None`` to
    opt out into gates-only mode (mixed classes become
    arrival-defined — the documented foot-gun path, now requiring the
    explicit argument).

    ``decon_mode="bloom"`` swaps the gram-overlap check for the
    Bloom-bitmap probe (the ONE membership/build definition shared
    with the batch gate, operators/text.py): the broadcast side
    becomes a CONSTANT 512 KiB bitmap instead of the eval gram array
    — the ingest gate's memory stops growing with the eval suite, at
    the documented false-positive rate (a bloom-positive doc is
    dropped; no false negatives, so nothing contaminated is ever
    admitted). The exact-fp quarantine stays exact in both modes
    (eval fingerprints are per-DOC, bounded). Stream-admitted set ==
    exact-mode admissions MINUS the batch bloom op's flagged docs,
    pinned under both arrival orders in
    tests/test_streaming_windows.py.

    ``gopher_gate=True`` (r15) additionally applies the Gopher
    §A1.1.1 per-document drop rules AT INGEST — the same
    ``gopher_rule_cols`` conjunction the batch ``docs_gopher_rules``
    screen computes (one definition), evaluated in the stream's
    projection; zero-token docs read as fail on both paths. Admitted
    set == default-mode admissions ∩ the batch op's pass set, pinned
    under both arrival orders in tests/test_streaming_windows.py.

    Scale design: the gates and the scrub accounting are stateless
    column math evaluated inside each micro-batch — zero state,
    arbitrarily parallel; decontamination and the fp quarantine are
    in-row ``arrays_overlap`` / ``array_contains`` checks against the
    broadcast one-row eval arrays (stream-static broadcast join — no
    stream shuffle). The ONLY stateful operator is the fingerprint
    dedup, whose state is watermark-bounded. Output is an append-mode
    parquet sink: each surviving first-arrival emits exactly once
    (checkpointed — restart-idempotent like the bronze CDC stream)."""
    if eval_docs is _AUTO_EVAL:
        eval_docs = spark.read.parquet(source_path).filter(
            F.col("source") == DECON_EVAL_SOURCE
        )
    cols = curation_columns()
    toks = _tokens_col()
    th = F.transform(toks, lambda x: F.xxhash64(x))
    proj = [
        "doc_id",
        "source",
        "ingest_ts",
        cols["n_tokens"].alias("n_tokens"),
        cols["quality_score"].alias("quality_score"),
        cols["en_hits"].alias("en_hits"),
        cols["n_pii"].alias("n_pii"),
        cols["clean_fp"].alias("clean_fp"),
        cols["fp"].alias("fp"),
        decon_gram_hashes(th).alias("gram_hashes"),
        F.size(toks).alias("_n_toks"),
    ]
    if gopher_gate:
        from real_time_fraud_detection_lakehouse_spark.operators.text import gopher_rule_cols

        # null (zero-token doc) reads as fail — the batch screen's
        # size>0 pre-filter expressed as a row flag
        proj.append(
            F.coalesce(gopher_rule_cols()["pass_gopher"], F.lit(False)).alias(
                "_pass_gopher"
            )
        )
    # max_files_per_trigger makes ARRIVAL order real: within one
    # availableNow batch the "first row per key" that
    # dropDuplicatesWithinWatermark keeps is task-scheduling order, not
    # ingest_ts order; across batches it is state, hence defined
    stream = (
        parquet_source(spark, source_path, max_files_per_trigger)
        .withWatermark("ingest_ts", watermark)
        .select(*proj)
    )
    # DEDUP FIRST, gates after: the first arrival per fingerprint is the
    # class representative and its gates decide the class's fate — an
    # eval-source first arrival QUARANTINES the whole class, exactly the
    # batch keeper election's behavior (min doc_id keeper, gates applied
    # to the keeper) under arrival order consistent with doc_id. When
    # eval_docs is given, the exact-fp quarantine below makes the
    # eval-vs-train outcome arrival-INDEPENDENT; dedup-first still
    # matters so exactly one representative per class reaches the
    # gates. Cost: dedup state is keyed over ALL arrivals in the
    # horizon, not just gate-passers (still watermark-bounded).
    stream = stream.dropDuplicatesWithinWatermark(["fp"]).filter(
        (F.col("quality_score") >= 0.5)
        & (F.col("en_hits") > 0)
        & (F.col("source") != DECON_EVAL_SOURCE)
    )
    if gopher_gate:
        stream = stream.filter(F.col("_pass_gopher")).drop("_pass_gopher")
    if decon_mode not in ("exact", "bloom"):
        raise ValueError(f"decon_mode must be 'exact' or 'bloom', got {decon_mode!r}")
    if eval_docs is not None:
        if decon_mode == "bloom":
            from real_time_fraud_detection_lakehouse_spark.operators.text import (
                bloom_member,
                build_bloom_bitmap,
            )

            bitmap = build_bloom_bitmap(eval_gram_frame(eval_docs))
            # 1-row bloom frame (not a 2^16-element literal in the
            # expression tree — the batch gate's createDataFrame idiom)
            gate = eval_fp_row(eval_docs).crossJoin(
                spark.createDataFrame([(bitmap,)], "bloom array<bigint>")
            )
            stream = (
                stream.crossJoin(F.broadcast(gate))
                .filter(
                    ~F.array_contains("eval_fps", F.col("fp"))
                    & (
                        (F.col("_n_toks") < DECON_GRAM)
                        | ~F.exists(
                            "gram_hashes",
                            lambda g: bloom_member(g, F.col("bloom")),
                        )
                    )
                )
                .drop("bloom", "eval_fps")
            )
        else:
            stream = (
                stream.crossJoin(F.broadcast(eval_gate_row(eval_docs)))
                .filter(
                    ~F.array_contains("eval_fps", F.col("fp"))
                    & (
                        (F.col("_n_toks") < DECON_GRAM)
                        | ~F.arrays_overlap("gram_hashes", "eval_grams")
                    )
                )
                .drop("eval_grams", "eval_fps")
            )
    stream = stream.drop("gram_hashes", "_n_toks")
    return run_to_parquet(stream, out_path, checkpoint_dir)


def incremental_dedup_stream(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_dir: str,
    index_root: str,
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The STREAM twin of ``operators/dedup.docs_dedup_incremental``
    (round-11 verdict #5): gate each arriving document against the
    STANDING CORPUS INDEX — ``build_corpus_index``'s published
    (corpus_fps, corpus_grams) group — so exact twins AND near-dups of
    the corpus are dropped at ingest, before they ever land.

    Three gates, in order:

    1. arrival-vs-arrival EXACT dedup: ``dropDuplicatesWithinWatermark``
       on the lowercase-trimmed md5 fingerprint (watermark-bounded
       state, the curation_stream idiom) — replays and same-batch
       twins collapse to one representative;
    2. corpus EXACT gate: stream-static LEFT ANTI join against
       ``corpus_fps`` on fp — stateless, re-planned per micro-batch;
    3. corpus NEAR-DUP gate: stream-static LEFT ANTI join against
       ``corpus_grams`` keyed on the shared prefix bucket with the
       n-gram Jaccard >= CLUSTER_JACCARD condition inline — an arrival
       is dropped iff ANY corpus bucket-mate clears the threshold. The
       bucket/gram expressions come from ``operators/dedup.gram_cols``
       / ``grams_from_th`` — the one-definition idiom, so batch and
       stream CANNOT drift on candidate semantics.

    Contract (the batch twin's note, sharpened for ingest):
    arrival-vs-arrival NEAR-dups are NOT gated here — that is the
    nightly pass's job (``build_corpus_index`` over yesterday's
    admissions makes tomorrow's near-dups of them corpus near-dups).
    An ingest gate decides per document against the published index,
    never against in-flight peers: cross-arrival near-dup state would
    be unbounded (gram sets, not fingerprints) and arrival-order-
    defined. The batch-equivalence test pins both the agreement on
    exact/corpus classes AND this documented deferral.

    Scale design: gates 2-3 are STATELESS stream-static joins — the
    static side is the maintained index read once per micro-batch plan
    (Spark re-resolves static frames per batch, picking up nightly
    re-publishes on restart); the join is keyed (fp / bucket), never
    all-pairs, and the arrival micro-batch is the small side (AQE
    broadcasts it at runtime — no hint, module broadcast policy). The
    only state is gate 1's fingerprint set, watermark-bounded. Output
    is an append parquet sink, checkpointed (restart-idempotent)."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        _read_corpus_index,
        fp_col,
        gram_cols,
        grams_from_th,
        near_pair_cond,
    )

    # base ∪ folded deltas, resolved through ONE manifest (the
    # update_corpus_index lifecycle); no .distinct(): LEFT ANTI is
    # duplicate-insensitive on its right side, and the static plan
    # re-executes per micro-batch — a corpus-wide shuffle+agg here
    # would be exactly the per-batch corpus cost this gate exists to
    # avoid (round-11 self-review)
    idx_fps, idx_grams = _read_corpus_index(spark, index_root)
    corpus_fps = idx_fps.select("fp")
    corpus_grams = idx_grams.select(
        F.col("bucket").alias("c_bucket"), F.col("grams").alias("c_grams")
    )

    # gates 1-2 need only the fp; the gram chain (the most expensive
    # per-row column math) is derived AFTER them, so replays and
    # corpus exact-twins — 30-50% of arrivals at web-crawl dup rates —
    # never pay tokenize+hash (round-11 self-review). text rides
    # through the fp gates for that purpose only, then drops.
    stage1 = gram_cols()
    stream = (
        parquet_source(spark, source_path, max_files_per_trigger)
        .withWatermark("ingest_ts", watermark)
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            "ingest_ts",
            "text",
            fp_col().alias("fp"),
        )
        .dropDuplicatesWithinWatermark(["fp"])
        .join(corpus_fps, "fp", "left_anti")
        .select(
            "doc_id",
            "source",
            "n_chars",
            "ingest_ts",
            "fp",
            stage1["bucket"].alias("bucket"),
            stage1["th"].alias("th"),
        )
        .select("doc_id", "source", "n_chars", "ingest_ts", "fp", "bucket",
                grams_from_th("th").alias("grams"))
    )
    near_cond = (F.col("bucket") == F.col("c_bucket")) & near_pair_cond(
        F.col("grams"), F.col("c_grams")
    )
    stream = stream.join(corpus_grams, near_cond, "left_anti").select(
        "doc_id", "source", "n_chars", "ingest_ts", "fp"
    )
    return run_to_parquet(stream, out_path, checkpoint_dir)


def containment_gate_stream(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_dir: str,
    index_root: str,
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The CONTAINMENT ingest gate (r16, r15 verdict #5): drop each
    arriving document that is substantially CONTAINED in the standing
    corpus — the stream twin of ``docs_dedup_containment_apply``'s
    corpus-side drop rule, riding the published gram projection
    ``build_corpus_index`` already maintains. Where the Jaccard gate
    (``incremental_dedup_stream``) catches near-equal twins, this one
    catches the quoted/expanded/boilerplate-wrapped class: an arrival
    living >= CONTAINMENT_MIN inside a corpus doc has Jaccard ~|A|/|C|
    (invisible) but arrival-side containment ~1.0.

    Two gates: (1) ``dropDuplicatesWithinWatermark`` on the fp —
    replay/same-batch byte-twins collapse (watermark-bounded state);
    (2) stream-static LEFT ANTI join against ``corpus_grams`` keyed
    on the shared prefix bucket with ``containment_gate_cond`` inline
    — an arrival is dropped iff ANY corpus bucket-mate contains it.
    The asymmetry is the documented ingest contract (see the cond's
    docstring): arrival-vs-arrival containment and corpus-docs-
    contained-in-arrivals are the nightly pass's job — a gate decides
    per document against the published index, never against in-flight
    peers or retroactively against the corpus. The batch-agreement
    test pins admissions == arrivals minus the corpus-containment
    drops EXACTLY, and pins the deferral as exactly the batch apply's
    arrival-vs-arrival classes, both arrival orders
    (tests/test_streaming_windows.py).

    Scale design: the gate is one STATELESS stream-static join —
    corpus ``text`` is never touched (the index is the standing gram
    projection), the join is bucket-keyed (never all-pairs), the
    micro-batch is the small side (AQE broadcasts at runtime, module
    policy), and the only state is the fp set, watermark-bounded."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        _read_corpus_index,
        containment_gate_cond,
        fp_col,
        gram_cols,
        grams_from_th,
    )

    _idx_fps, idx_grams = _read_corpus_index(spark, index_root)
    corpus_grams = idx_grams.select(
        F.col("bucket").alias("c_bucket"), F.col("grams").alias("c_grams")
    )

    stage1 = gram_cols()
    stream = (
        parquet_source(spark, source_path, max_files_per_trigger)
        .withWatermark("ingest_ts", watermark)
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            "ingest_ts",
            "text",
            fp_col().alias("fp"),
        )
        .dropDuplicatesWithinWatermark(["fp"])
        .select(
            "doc_id",
            "source",
            "n_chars",
            "ingest_ts",
            "fp",
            stage1["bucket"].alias("bucket"),
            stage1["th"].alias("th"),
        )
        .select(
            "doc_id", "source", "n_chars", "ingest_ts", "fp", "bucket",
            grams_from_th("th").alias("grams"),
        )
    )
    gate = (F.col("bucket") == F.col("c_bucket")) & containment_gate_cond(
        F.col("grams"), F.col("c_grams")
    )
    stream = stream.join(corpus_grams, gate, "left_anti").select(
        "doc_id", "source", "n_chars", "ingest_ts", "fp"
    )
    return run_to_parquet(stream, out_path, checkpoint_dir)


def containment_gate_global_stream(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_dir: str,
    index_root: str,
) -> DataFrame:
    """The EXACT-RECALL containment gate AT INGEST (r16): every
    micro-batch of arriving documents is gated by
    ``operators.dedup.containment_gate_global`` — rarest-gram probes
    against the published posting list, exact verify against the
    published gram arrays — and the per-arrival decisions land
    idempotently under ``batch_id=<N>`` (the fuzzy-entity-gate
    scaffold). Where ``containment_gate_stream`` blocks on the
    4-token-prefix bucket (and so admits a doc quoted MID-corpus-doc),
    this gate's recall is the prefix-filter theorem: any arrival
    >= CONTAINMENT_MIN contained in ANY corpus document is rejected,
    wherever the quote sits. Decisions only — admissions are not
    folded into the index here (the nightly pass's job, the bucketed
    gate's same deferral). Returns (doc_id, admitted, matched_doc,
    batch_id).

    Scale design: per-batch cost is arrival-proportional (probe
    ranking over the batch's exploded grams; df and postings are
    published standing surfaces, never recomputed); the posting join
    fans out df(gram) per probe with probes chosen from the df tail;
    no stream state at all — the scaffold's idempotent partition
    overwrite is the exactly-once story."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        containment_gate_global,
    )

    stream = parquet_source(spark, source_path)

    def _emit(batch, batch_id: int) -> None:
        write_batch_partition(
            containment_gate_global(spark, batch, index_root),
            out_path,
            batch_id,
        )

    return run_partitioned_foreach_stream(
        spark, stream, _emit, out_path, checkpoint_dir,
        "doc_id long, admitted boolean, matched_doc long, batch_id long",
    )
