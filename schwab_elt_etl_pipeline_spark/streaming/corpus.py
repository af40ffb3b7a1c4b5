"""Streaming corpus ingestion — the LLM-data twin of the quotes stream.

A 100 TB training corpus is not built in one batch job: crawl shards arrive
continuously and the curation cascade (dedup → quality → index) has to keep
up incrementally. This module runs the batch curation operators
(operators/text.py, operators/dedup.py) inside Structured Streaming:

- ``read_document_stream``: parquet-directory document stream (the same
  swappable-transport pattern as streaming/quotes.py — a Kafka topic of
  crawl records drops in via ``format("kafka")`` + the same downstream).
- ``curate_stream``: per-batch quality gate + fingerprinting — pure native
  column expressions, so the streaming plan stays whole-stage-codegen'd.
- ``write_curated_stream``: exact-dedup + append to Bronze. In-stream
  ``dropDuplicates`` on the content fingerprint dedups WITHIN the watermark
  horizon; cross-batch idempotence against everything already ingested is
  the same anti-join protocol as the batch engine (operators/merge.py) via
  ``foreachBatch`` — the streaming and batch paths share one dedup
  definition.
- ``update_minhash_index``: incremental MinHash signature index — the scale
  path. Re-LSHing the whole corpus per batch is O(corpus) per trigger;
  instead the signature/band table is maintained incrementally (only NEW
  fingerprints are signed), and near-dup candidates for a batch are found by
  joining the BATCH's band buckets against the persistent index — O(batch)
  work per trigger, exactly how an at-scale dedup service amortizes LSH.
- ``update_simhash_index``: the pigeonhole-blocked sibling of the MinHash
  index — same probe-don't-rescan protocol on (block, key) buckets, with
  SimHash's deterministic recall guarantee (Hamming ≤ blocks-1). MinHash,
  SimHash and the pHash / audio / video indexes run ONE definition of the
  protocol, ``_update_blocked_hash_index``, differing only in the equi-key
  and the score column.
- ``update_passage_index``: incremental SUB-document dedup — the streaming
  twin of ``operators/dedup.py passage_dedup_rebuild``, probing a persistent
  passage-fingerprint table so cross-batch boilerplate is dropped with
  O(batch) work and 8-byte join keys.
- ``update_pq_index``: incremental persisted PQ index — ADC-query the code
  table with each embedding batch, then append the batch's codes under the
  fixed codebooks; epoch-stamped for bit-for-bit replay stability.
- ``update_ivfadc_index``: the cell-structured sibling — coarse inverted
  file + residual PQ; queries probe only their nearest cells' code rows,
  appends assign-and-encode against fixed centroids/codebooks.
- ``update_url_index``: incremental canonical-URL exact-dup index — the
  EXACT-key front door ahead of the content passes; canonicalize only the
  batch, resolve keepers against the persistent URL table, ``insert_new``
  on the canonical string (replay-idempotent, drained index ≡ the batch
  ``url_dup_groups`` keepers).
- ``update_semdedup_index``: incremental SemDeDup cell index — the
  SEMANTIC member of the family; first batch seeds the fixed centroids,
  each batch assigns against the persisted cells and probes only its own
  cells' members for an earlier near-identical vector (O(batch × cell)
  per trigger), cumulative verdicts ≡ the batch ``semdedup_prune``.
- ``update_gram_index``: incremental first-occurrence NOVELTY scoring —
  a persistent 8-byte n-gram fingerprint table; each batch's documents are
  scored by how much content they introduce vs the corpus so far, with
  O(batch) probe work (the streaming twin of
  ``operators/text.py first_seen_novelty``).
- ``compact_index``: fold an index's epoch stamps into a NULL-epoch base
  version and rewrite it as one clustered layout — the housekeeping that
  bounds per-trigger append-file counts over the stream's lifetime.
  Cadence: run it whenever the version/file count grows past the probe
  budget (e.g. every N thousand epochs), and ONLY for epochs the streaming
  checkpoint has committed past (see the function docstring).

Every index append goes through ``ParquetTable.insert_new``, which creates a
missing table on its first write (deduplicating on the keys) and otherwise
anti-joins on them, so no append forks on ``exists()``; reads still do. The
PQ, IVFADC and SemDeDup first batches also train fixed structures
(codebooks, centroids); those seed writes use ``overwrite_versioned``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from schwab_elt_etl_pipeline_spark.streaming.runner import start_foreach_batch

from schwab_elt_etl_pipeline_spark.operators.dedup import (
    _banded_signatures,
    simhash_blocked,
    split_passages,
)
from schwab_elt_etl_pipeline_spark.operators.text import (
    fingerprint,
    lang_id,
    token_count,
)
from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable

#: Schema of a crawl record stream (mirrors testdata documents.parquet plus
#: an ingest timestamp the watermark rides on).
DOCUMENT_STREAM_SCHEMA = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, "
    "n_chars BIGINT, ingest_ts TIMESTAMP"
)


def read_document_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Parquet-directory stream of crawl records. ``maxFilesPerTrigger``
    bounds per-trigger work (the batch-size knob — crawl shards are files)."""
    return (
        spark.readStream.schema(DOCUMENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def curate_stream(docs: DataFrame, min_tokens: int = 5) -> DataFrame:
    """Quality gate + content fingerprint, all native expressions.

    Keeps documents with ≥ ``min_tokens`` whitespace tokens AND at least one
    marker hit in the language heuristic (``lang_id`` is an argmax that
    always names a language — the gate is the marker score, not the argmax);
    attaches the rolling-hash fingerprint
    the dedup layer keys on. Order-insensitive per-row logic → identical
    semantics in batch and streaming (the operators are shared)."""
    from schwab_elt_etl_pipeline_spark.operators.text import lang_scores

    scores = lang_scores("text")
    recognized = F.greatest(*scores.values()) > 0
    return (
        docs.withColumn("n_tok", token_count("text"))
        .withColumn("lang_pred", lang_id("text"))
        .filter((F.col("n_tok") >= min_tokens) & recognized)
        .withColumn("fp", fingerprint("text"))
    )


def write_curated_stream(
    curated: DataFrame,
    bronze: ParquetTable,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Exact-dedup ingest: watermark-bounded ``dropDuplicates`` on the
    fingerprint removes within-horizon repeats; the ``foreachBatch`` sink
    anti-joins against Bronze (keys=[fp]) so replays and cross-batch
    repeats are dropped — the same insert-if-absent protocol as the batch
    engine, giving end-to-end exactly-once on the content key.

    ``dropDuplicatesWithinWatermark`` (not plain ``dropDuplicates``): the
    fingerprint key carries no event time, so only the WithinWatermark form
    evicts dedup state as the watermark advances — plain dropDuplicates on a
    non-time key grows state forever (same reasoning as the quote stream,
    streaming/quotes.py)."""
    deduped = curated.withWatermark("ingest_ts", watermark).dropDuplicatesWithinWatermark(
        ["fp"]
    )

    def _sink(batch: DataFrame, _epoch: int) -> None:
        # insert_new handles the not-exists branch itself AND dedups the
        # first batch on fp — a verbatim first write would trust upstream
        # dedup that a future caller might not have
        bronze.insert_new(batch, keys=["fp"])

    return start_foreach_batch(
        deduped, _sink, checkpoint_dir, trigger_seconds, output_mode="append"
    )


def compact_index(index: ParquetTable, keep_versions: int = 2) -> int:
    """Fold a streaming index into a single compacted base version.

    Every ``update_*_index`` call appends a delta file set to the current
    version dir (``insert_new``), so over a stream's lifetime the index
    accumulates one small file group per epoch and the per-trigger probe
    pays a growing file-listing/footer tax. Compaction rewrites the table
    as ONE clustered layout (restoring the disjoint-file footer-stat
    invariant ``ParquetTable.append`` documents as degraded between
    compactions) and, when the table carries an ``_epoch`` column, folds
    all stamps to NULL — the "committed base" marker every probe treats as
    seen/visible under any later epoch (the null-safe comparisons in the
    ``update_*`` functions).

    Returns the new version number. Old versions beyond ``keep_versions``
    are vacuumed (2, not 1: a lazy plan from the prior trigger may still
    pin the previous ``_v`` dir — the ann_pq_index lesson).

    Replay caveat (same as ``consolidate_last_seen`` /
    ``consolidate_counts``): compact ONLY epochs the streaming checkpoint
    has committed past. The key-guarded ``insert_new`` stays exactly-once
    regardless — a replayed batch re-inserts nothing — but an UNCOMMITTED
    epoch replayed after its stamps were folded no longer recognizes its
    own claims as fresh, so its per-batch OUTPUT (dedup/novelty/shortlist
    rows) would not reproduce bit-for-bit.
    """
    cur = index.read()
    if "_epoch" in cur.columns:
        cur = cur.withColumn("_epoch", F.lit(None).cast("long"))
    version = index.overwrite_versioned(cur)
    index.vacuum(keep_last=keep_versions)
    return version


def update_minhash_index(
    batch: DataFrame,
    index: ParquetTable,
    ngram: int = 2,
    k: int = 32,
    bands: int = 16,
) -> DataFrame:
    """Incrementally maintain a MinHash band index and return the batch's
    near-dup candidates against the ENTIRE corpus seen so far.

    Per call: (1) sign only the batch's documents (O(batch) shingling);
    (2) candidates = batch bands ⋈ index bands on (band, bucket) — the
    index side is pre-bucketed, so this probes, never rescans, the corpus;
    (3) append the batch's bands to the index (insert_new on (id, band) —
    idempotent under replay). Returns (batch_id, index_id, est_jaccard).

    At 100 TB the index table is cluster_by=("bucket",) so file footer
    stats prune probe I/O to the touched buckets.
    """
    # Sign once, cut lineage: the signatures feed BOTH the candidate probe
    # and the index append; localCheckpoint materializes them so the
    # shingling/hashing runs once per batch, not once per consumer.
    signed = _banded_signatures(batch, "doc_id", "text", ngram, k, bands).localCheckpoint(
        eager=True
    )

    est_jaccard = F.size(
        F.filter(
            F.zip_with("a.sig", "b.sig", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / F.lit(k)
    return _update_blocked_hash_index(
        signed,
        index,
        on=("band", "bucket"),
        score=est_jaccard.alias("est_jaccard"),
    )


def update_simhash_index(
    batch: DataFrame,
    index: ParquetTable,
    blocks: int = 8,
) -> DataFrame:
    """Incrementally maintain a pigeonhole-blocked SimHash index and return
    the batch's near-dup candidates against the entire corpus seen so far.

    The bit-for-bit same blocking as the batch operator
    (``operators/dedup.py simhash_blocked``): the 64-bit signature cut into
    ``blocks`` chunks, a pair surfacing when ANY chunk collides — guaranteed
    recall for Hamming ≤ blocks-1 (pigeonhole), incremental cost O(batch).
    Same protocol as ``update_minhash_index`` (the shared
    ``_update_blocked_hash_index``): sign only the batch, probe the
    pre-bucketed index on the (block, key) equi-key, self-join the batch for
    pairs arriving together, then append idempotently on (id, block).

    Output: ``(batch_id, index_id, hamming)``.
    """
    signed = simhash_blocked(
        batch, id_col="doc_id", text_col="text", blocks=blocks
    ).localCheckpoint(eager=True)
    return _update_blocked_hash_index(signed, index)


def update_phash_index(
    batch: DataFrame,
    index: ParquetTable,
    blocks: int = 5,
) -> DataFrame:
    """Incrementally maintain a pigeonhole-blocked perceptual-hash (pHash)
    image index and return the batch's near-dup candidates against the
    entire corpus seen so far — the MULTIMODAL member of the incremental
    index family (the image twin of :func:`update_simhash_index`).

    Bit-for-bit the batch operator's blocking (``operators/phash.py
    phash_blocked``: the 63-AC-bit integer-DCT hash cut into ``blocks``
    chunks, guaranteed recall for Hamming <= blocks-1), so incremental
    candidates == ``phash_verified_pairs`` candidates over the union corpus
    (pinned in tests/test_streaming_corpus.py). Protocol identical to the
    text twins: hash only the batch, probe the pre-bucketed index on the
    (block, key) equi-key, self-join the batch, append idempotently on
    (id, block). Output: ``(batch_id, index_id, hamming)``.
    """
    from schwab_elt_etl_pipeline_spark.operators.phash import (
        luma_cells,
        phash64,
        phash_blocked,
    )

    signed = phash_blocked(
        phash64(luma_cells(batch)), blocks=blocks
    ).localCheckpoint(eager=True)
    return _update_blocked_hash_index(signed, index, hash_col="phash")


def _update_blocked_hash_index(
    signed: DataFrame,
    index: ParquetTable,
    hash_col: str = "sig",
    on: tuple[str, str] = ("block", "key"),
    score: Column | None = None,
) -> DataFrame:
    """Shared probe-then-append protocol for every banded or blocked pair
    index (MinHash bands, SimHash blocks, pHash images, audio
    fingerprints): the batch's signed rows self-join, probe the persisted
    index on the ``on`` equi-key, and append idempotently on
    (id, ``on[0]``) through ``insert_new``, which also creates the index on
    its first write. ``score`` is the pair's similarity column over the
    ``a`` (batch) and ``b`` (index) sides; the default is the ``hamming``
    distance of ``hash_col``. One definition, so the family cannot drift
    from itself or from ``operators/phash.py blocked_hamming_pairs``.
    Output: ``(batch_id, index_id, <score>)``."""
    if score is None:
        score = F.bit_count(
            F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
        ).alias("hamming")

    c1, c2 = on

    def _pairs(left, right, residual):
        return (
            left.alias("a")
            .join(
                right.alias("b"),
                (F.col(f"a.{c1}") == F.col(f"b.{c1}"))
                & (F.col(f"a.{c2}") == F.col(f"b.{c2}"))
                & residual,
            )
            .select(
                F.col("a.id").alias("batch_id"),
                F.col("b.id").alias("index_id"),
                score,
            )
        )

    # pairs ARRIVING TOGETHER: the index cannot see them (both sides are
    # appended only after this call), so the batch self-joins its own rows —
    # without this, two near-identical docs in one micro-batch are never
    # surfaced by ANY call (the index-only probe misses them now, and later
    # batches probe against both as index rows, never as a pair)
    cands = _pairs(signed, signed, F.col("a.id") < F.col("b.id"))
    if index.exists():
        probed = _pairs(signed, index.read(), F.col("a.id") != F.col("b.id"))
        cands = probed.unionByName(cands)
    index.insert_new(signed, keys=["id", c1])
    return cands.dropDuplicates(["batch_id", "index_id"])


def update_afp_index(
    batch: DataFrame,
    index: ParquetTable,
    blocks: int = 8,
) -> DataFrame:
    """Incrementally maintain a pigeonhole-blocked AUDIO-fingerprint index
    (Haitsma-Kalker sign bits, ``operators/audiofp.py``) and return the
    batch's near-dup candidates against the entire corpus seen so far —
    the audio member of the incremental index family, same O(batch)
    protocol and replay contract as :func:`update_phash_index` (pinned
    equal to the batch operator in tests/test_streaming_corpus.py).
    Output: ``(batch_id, index_id, hamming)``."""
    from schwab_elt_etl_pipeline_spark.operators.audiofp import (
        BITS,
        afp63,
        level_cells,
    )
    from schwab_elt_etl_pipeline_spark.operators.phash import phash_blocked

    signed = phash_blocked(
        afp63(level_cells(batch)), blocks=blocks, hash_col="afp", bits=BITS
    ).localCheckpoint(eager=True)
    return _update_blocked_hash_index(signed, index, hash_col="afp")


def update_video_phash_index(
    batch: DataFrame,
    index: ParquetTable,
    frames: int = 4,
    blocks: int = 5,
    max_hamming: int = 4,
    min_frames: int = 2,
) -> DataFrame:
    """Incrementally maintain the per-frame video pHash index and return
    the batch's video near-dup verdicts against the corpus so far — the
    video member of the incremental index family. The blocked probe runs
    on frame-composite ids (id*16+frame) through the SHARED
    ``_update_blocked_hash_index`` protocol, then the >= ``min_frames``
    distinct-frame-pair vote reduces frame candidates to video verdicts
    (the batch operator's rule, ``operators/phash.py video_phash_pairs``).
    Requires non-negative integral doc ids and ``frames <= 16`` (the
    composite-key contract, ``operators/phash.py check_frame_composite``).
    Output: ``(batch_id, index_id, n_frame_matches, min_hamming)``."""
    from schwab_elt_etl_pipeline_spark.operators.phash import (
        check_frame_composite,
        phash64,
        phash_blocked,
        video_frame_cells,
    )

    check_frame_composite(frames)
    cells = video_frame_cells(batch, frames)
    signed = phash_blocked(
        phash64(
            cells.select(
                (F.col("id") * 16 + F.col("frame")).alias("id"), "cell", "px"
            )
        ),
        blocks=blocks,
    ).localCheckpoint(eager=True)
    frame_cands = _update_blocked_hash_index(signed, index, hash_col="phash")
    return (
        frame_cands.filter(F.col("hamming") <= max_hamming)
        .select(
            F.expr("batch_id div 16").alias("batch_id"),
            F.expr("index_id div 16").alias("index_id"),
            F.expr("batch_id % 16").alias("fa"),
            F.expr("index_id % 16").alias("fb"),
            "hamming",
        )
        .filter(F.col("batch_id") != F.col("index_id"))
        # single-shuffle dedup + vote: duplicate (fa, fb) rows from
        # different blocks carry identical hamming (batch operator's rule)
        .groupBy("batch_id", "index_id")
        .agg(
            F.count_distinct("fa", "fb").alias("n_frame_matches"),
            F.min("hamming").alias("min_hamming"),
        )
        .filter(F.col("n_frame_matches") >= min_frames)
    )


def update_ann_index(
    batch: DataFrame,
    index: ParquetTable,
    bits: int = 6,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: bool = False,
) -> DataFrame:
    """Incrementally maintain a sign-LSH ANN index over an embedding stream
    and return the batch's top-k nearest indexed neighbors.

    The embedding twin of :func:`update_minhash_index`: per call, (1) bucket
    only the batch's vectors (sign-LSH — deterministic, no training step to
    go stale); (2) candidates = batch ⋈ index on the bucket id, scored by
    exact cosine, top-k per batch vector (window with (cos desc, id) order —
    deterministic); (3) append the batch to the index, insert_new on the
    vector id so replays add nothing. O(batch × cell occupancy) per call,
    never O(corpus). At 100 TB the index table is cluster_by=("bucket",) so
    the probe prunes to the touched cells' files.

    ``multi_probe=True`` additionally probes every bucket at Hamming
    distance 1 (flip each sign bit) — the standard sign-LSH recall lever for
    vectors near a hyperplane boundary, at (bits+1)× probe cost. The probe
    set is a per-row explode, so it scales with the batch, not the index.
    """
    from pyspark.sql.window import Window

    from schwab_elt_etl_pipeline_spark.operators.similarity import (
        as_double,
        cosine,
        sign_bucket,
    )

    signed = batch.select(
        F.col(id_col).alias("id"),
        as_double(vec_col).alias("vec"),
    ).withColumn("bucket", sign_bucket(F.col("vec"), bits)).localCheckpoint(eager=True)
    if not index.exists():
        index.insert_new(signed, keys=["id"])
        return signed.select(
            F.col("id").alias("batch_id"),
            F.col("id").alias("index_id"),
            F.lit(0.0).alias("cos"),
        ).limit(0)
    idx = index.read()
    probes = signed
    if multi_probe:
        flips = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(bits)
            ],
        )
        probes = signed.withColumn("bucket", F.explode(flips))
    w = Window.partitionBy("batch_id").orderBy(F.col("cos").desc(), F.col("index_id"))
    cands = (
        probes.alias("a")
        .join(
            idx.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("batch_id"),
            F.col("b.id").alias("index_id"),
            F.round(cosine(F.col("a.vec"), F.col("b.vec")), 6).alias("cos"),
        )
        # multi-probe can reach the same index row via two buckets
        .dropDuplicates(["batch_id", "index_id"])
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )
    index.insert_new(signed, keys=["id"])
    return cands


def _probe_seen(
    df: DataFrame, index: ParquetTable, key: str, epoch: int | None
) -> DataFrame:
    """``df`` plus ``_seen``: whether its ``key`` is already claimed in ``index``.

    The epoch-aware probe of the fingerprint indexes (passage, window, gram),
    whose rows carry the ``_epoch`` that claimed them. With ``epoch`` (the
    foreachBatch batch_id) a key claimed BY THIS epoch counts as unseen, so a
    replayed batch reproduces its original output; rows claimed without an
    epoch (direct batch use, or folded by :func:`compact_index`) stay seen
    under every epoch — NULL != epoch is SQL NULL, hence the coalesce.
    Without ``epoch`` every index hit is seen. O(batch) lookups: a left join
    of ``df`` against the index's key column, never a corpus rescan.
    """
    if not index.exists():
        return df.withColumn("_seen", F.lit(False))
    idx = index.read().select(
        key, F.lit(1).alias("_hit"), F.col("_epoch").alias("_idx_epoch")
    )
    seen = F.col("_hit").isNotNull()
    if epoch is not None:
        seen = seen & F.coalesce(F.col("_idx_epoch") != F.lit(epoch), F.lit(True))
    return (
        df.join(idx, key, "left").withColumn("_seen", seen).drop("_hit", "_idx_epoch")
    )


def update_passage_index(
    batch: DataFrame,
    index: ParquetTable,
    passage_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    epoch: int | None = None,
) -> DataFrame:
    """Incrementally maintain a passage-fingerprint index and return the
    batch's documents with passages deduped against the ENTIRE corpus seen
    so far (plus first-occurrence dedup within the batch itself).

    The sub-document twin of :func:`update_minhash_index`, giving the
    streaming path the same semantics as the batch
    ``operators/dedup.py passage_dedup_rebuild``: a passage survives iff it
    is (a) absent from the index (never seen in any prior batch) and (b) the
    first occurrence within this batch by (id, position). Per call:
    (1) passage-split only the batch (O(batch) explode), fingerprinting each
    passage to 64 bits so the probe join and the index carry 8-byte keys,
    never the text; (2) drop passages whose fingerprint hits the index
    (left_anti probe — O(batch) lookups, never a corpus rescan); (3) rebuild
    per-doc text from survivors; (4) append the batch's fingerprints,
    ``insert_new`` on fp so replays add nothing.

    ``epoch`` (pass the foreachBatch batch_id) makes the OUTPUT replay-safe
    too: foreachBatch is at-least-once, so a replayed batch probes an index
    that already contains its own fingerprints. Index rows carry the epoch
    that claimed them; a passage counts as fresh when its fp is absent OR
    was claimed BY THIS epoch — the replay reproduces the original output
    bit-for-bit instead of emitting n_kept=0 / empty text for every
    document. Without an epoch (direct batch use) the probe-all behavior
    applies and replaying the same batch is NOT output-stable.

    Output: (id, n_passages, n_kept, deduped_text) for every batch document.
    At 100 TB the index table is ``cluster_by=("fp",)`` so footer stats
    prune probe I/O to the touched fingerprint ranges.
    """
    from pyspark.sql.window import Window

    passages = (
        split_passages(batch, id_col, text_col, passage_tokens)
        .withColumn("fp", F.xxhash64("passage"))
        .localCheckpoint(eager=True)  # feeds the probe, the rebuild AND the
        # index append — materialize once per batch
    )
    fresh = _probe_seen(passages, index, "fp", epoch).filter(~F.col("_seen"))
    w = Window.partitionBy("fp").orderBy("_id", "passage_id")
    kept = fresh.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    out = (
        passages.groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_passages"))
        .join(
            kept.groupBy("_id").agg(
                F.count(F.lit(1)).alias("n_kept"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("passage_id", "passage"))
                        ),
                        lambda x: x["passage"],
                    ),
                    " ",
                ).alias("deduped_text"),
            ),
            "_id",
            "left",
        )
        .select(
            F.col("_id").alias(id_col),
            "n_passages",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("deduped_text", F.lit("")).alias("deduped_text"),
        )
    )
    new_fps = kept.select(
        "fp",
        F.col("_id").alias("first_doc_id"),
        F.lit(epoch).cast("long").alias("_epoch"),
    )
    index.insert_new(new_fps, keys=["fp"])
    return out


def update_url_index(
    batch: DataFrame,
    index: ParquetTable,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incrementally maintain the canonical-URL exact-dup index — the
    EXACT-key member of the incremental index family, sitting AHEAD of the
    content passes (MinHash/SimHash/passage) exactly as the batch URL front
    door does (``operators/urls.py``).

    Per call: (1) canonicalize only the batch (O(batch), built-in
    ``parse_url`` work); (2) resolve each canonical URL's keeper as the
    index holder if one exists, else the batch's min id (the in-batch
    self-pair rule — two spellings of one page arriving together must still
    collapse); (3) ``insert_new`` on the canonical string, so the index
    keeps the FIRST doc per canonical URL forever and replays add nothing.

    Keeper semantics: first ARRIVAL wins (ties inside one batch break to
    the min id) — the index family's contract. Under arrival-ordered ids
    (the ingest contract here) this coincides with the batch operator's
    min-id rule, so drained index ≡ ``url_dup_groups`` keepers (pinned in
    tests/test_streaming_corpus.py).

    Output: (doc_id, canonical_url, first_doc, is_dup) for EVERY batch row
    — including malformed-URL docs, which surface with a NULL canonical
    and NULL keeper, is_dup false (they join no group and enter no index;
    the quarantine row keeps the verdict stream row-complete instead of
    silently dropping them through a null-keyed join). At 100 TB the
    index is ``cluster_by=("canonical_url",)`` so footer stats prune the
    probe to the touched URL ranges.
    """
    from schwab_elt_etl_pipeline_spark.operators.urls import canonical_url

    all_canon = batch.select(
        F.col(id_col).alias("doc_id"),
        canonical_url(url_col).alias("canonical_url"),
    ).localCheckpoint(eager=True)  # feeds the resolve, the verdicts AND the
    # index append — canonicalize once per batch
    canon = all_canon.where(F.col("canonical_url").isNotNull())
    quarantined = all_canon.where(F.col("canonical_url").isNull()).select(
        "doc_id",
        "canonical_url",
        F.lit(None).cast("long").alias("first_doc"),
        F.lit(False).alias("is_dup"),
    )
    batch_first = canon.groupBy("canonical_url").agg(
        F.min("doc_id").alias("_batch_first")
    )
    if index.exists():
        merged = (
            batch_first.join(
                index.read().select("canonical_url", "first_doc"),
                "canonical_url",
                "left",
            )
            .select(
                "canonical_url",
                F.coalesce("first_doc", "_batch_first").alias("first_doc"),
            )
        )
    else:
        merged = batch_first.withColumnRenamed("_batch_first", "first_doc")
    verdicts = canon.join(merged, "canonical_url").select(
        "doc_id",
        "canonical_url",
        "first_doc",
        (F.col("doc_id") != F.col("first_doc")).alias("is_dup"),
    ).unionByName(quarantined)
    index.insert_new(merged, keys=["canonical_url"])
    return verdicts


def update_window_index(
    batch: DataFrame,
    index: ParquetTable,
    window_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    epoch: int | None = None,
) -> DataFrame:
    """Incremental SUBSTRING dedup — the streaming twin of
    ``operators/dedup.py substring_dedup_rebuild``, as :func:`update_passage_index`
    is to ``passage_dedup_rebuild``. The tokenize/window/sweep/rebuild core
    is SHARED with the batch operator (``doc_tokens_and_windows`` /
    ``excise_and_rebuild``) so the two paths cannot drift.

    Per batch: stride-1 ``window_tokens``-token windows are fingerprinted to
    64 bits; an occurrence is a DUPLICATE iff its fingerprint is already in
    the persistent index (seen in any prior batch) or a lower-(id, start)
    occurrence exists within this batch. Every token covered by a duplicate
    occurrence is excised and documents rebuild from the survivors.
    First-ever occurrences append to the index (``insert_new`` on fp, so
    replays add nothing); with ``epoch`` (the foreachBatch batch_id) a
    replayed batch treats its own claims as fresh and reproduces its
    original output bit-for-bit. Index rows claimed WITHOUT an epoch
    (direct batch use, ``_epoch`` NULL) count as seen under any later
    epoch — the comparison is null-safe, matching
    :func:`update_passage_index`.

    When batches arrive in ascending ``id_col`` order the cumulative result
    equals the batch operator over the concatenated corpus (pinned by
    test_streaming_corpus). O(batch) probe work per trigger; the index
    carries only (fp, first_doc_id, _epoch) — 8-byte keys, never text. At
    100 TB the index is ``cluster_by=("fp",)`` for footer-stat probe pruning.
    """
    from pyspark.sql.window import Window

    from schwab_elt_etl_pipeline_spark.operators.dedup import (
        doc_tokens_and_windows,
        excise_and_rebuild,
    )

    k = window_tokens
    tokens, raw_wins = doc_tokens_and_windows(batch, k, id_col, text_col)
    wins = raw_wins.select(
        "_id", "start", F.xxhash64("wtext").alias("fp")
    ).localCheckpoint(eager=True)  # probe + rank + index append share it
    probed = _probe_seen(wins, index, "fp", epoch)
    rank = Window.partitionBy("fp").orderBy("_id", "start")
    occ = probed.withColumn("rk", F.row_number().over(rank))
    dup_starts = occ.filter(F.col("_seen") | (F.col("rk") > 1)).select("_id", "start")
    out = excise_and_rebuild(tokens, dup_starts, k, id_col)
    new_fps = (
        occ.filter(~F.col("_seen") & (F.col("rk") == 1))
        .select(
            "fp",
            F.col("_id").alias("first_doc_id"),
            F.lit(epoch).cast("long").alias("_epoch"),
        )
    )
    index.insert_new(new_fps, keys=["fp"])
    return out


def update_pq_index(
    batch: DataFrame,
    books_table: ParquetTable,
    codes_table: ParquetTable,
    m: int = 8,
    k_codes: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    epoch: int | None = None,
) -> DataFrame:
    """Incrementally maintain a persisted PQ (product-quantization) index
    over an embedding stream — the compressed-domain sibling of
    :func:`update_ann_index`, completing the incremental-index family
    (MinHash / passage-fp / window-fp / sign-LSH / PQ).

    Per call: (1) ADC-query the EXISTING index with the batch's vectors
    (``pq_query_index`` — scans m-ints-per-vector codes + kilobyte
    codebooks, never raw vectors) and return the top-k shortlist; (2) encode
    the batch against the FIXED codebooks and dup-guard-append its codes
    (``extend_pq_index`` — ``insert_new`` on (id, sub), so replays add
    nothing). The first-ever batch TRAINS the codebooks (seeded k-means) and
    seeds the code table, returning an empty shortlist, exactly as
    :func:`update_ann_index` seeds its LSH table. O(batch × code-table scan)
    per trigger, never O(corpus) in raw-vector bytes — at 100 TB the code
    table is 16× smaller than the vectors and the codebooks broadcast.

    Replay stability: codes are stamped with the foreachBatch ``epoch``; the
    query pass excludes rows claimed BY THIS epoch (null-safe, same
    convention as :func:`update_window_index`), so a replayed batch neither
    self-matches nor sees its batch-mates and reproduces its original
    shortlist bit-for-bit. Codebooks never retrain in-stream — quantization
    drift is a cadence decision (rebuild via ``build_pq_index``; versioned
    overwrite keeps readers snapshot-isolated), mirroring how production PQ
    serving amortizes index maintenance. Batching equivalence is pinned by
    test_streaming_corpus: with the same seed batch, stream-built codes ==
    batch-built codes (``build_pq_index`` on the seed + one
    ``extend_pq_index`` of the remainder), because encoding is pointwise
    under fixed codebooks.
    """
    from schwab_elt_etl_pipeline_spark.operators.similarity import (
        _first_vec_len,
        _require_dim,
        pq_encode,
        pq_query_index,
        pq_train_codebooks,
        extend_pq_index,
    )

    if not books_table.exists():
        dim = _first_vec_len(batch, vec_col, "PQ index seed batch")
        _require_dim(batch, vec_col, dim, "PQ index seed batch", strict=True)
        books = pq_train_codebooks(
            batch, m, k_codes, id_col, vec_col, seed, dim=dim
        )
        books_table.overwrite_versioned(books)
        codes = pq_encode(batch, books, m, dim, id_col, vec_col).withColumn(
            "_epoch", F.lit(epoch).cast("long")
        )
        codes_table.overwrite_versioned(codes)
        return (
            batch.select(
                F.col(id_col).alias("q_id"),
                F.col(id_col).alias(id_col),
                F.lit(0.0).alias("adc_d2"),
            ).limit(0)
        )
    shortlist = pq_query_index(
        books_table, codes_table, batch, k, id_col, vec_col,
        exclude_epoch=epoch,
    )
    # Materialize before the append mutates the code table: the shortlist's
    # lineage reads the PRE-append snapshot (versioned reads pin a _v dir,
    # but localCheckpoint also spares the replayed-query recompute).
    shortlist = shortlist.localCheckpoint(eager=True)
    extend_pq_index(batch, books_table, codes_table, id_col, vec_col, epoch=epoch)
    return shortlist


def update_ivfadc_index(
    batch: DataFrame,
    cents_table: ParquetTable,
    books_table: ParquetTable,
    codes_table: ParquetTable,
    n_centroids: int = 8,
    m: int = 8,
    k_codes: int = 16,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    epoch: int | None = None,
) -> DataFrame:
    """Incrementally maintain a persisted IVFADC index (coarse inverted
    file + residual PQ) over an embedding stream — the cell-structured
    sibling of :func:`update_pq_index`, with the same contract: per call,
    (1) ADC-query the existing index with the batch (probing only each
    query's ``n_probe`` nearest cells' code rows), (2) assign the batch to
    its FIXED coarse cells, residual-encode against the FIXED codebooks,
    and dup-guard-append. The first batch trains both quantizer levels and
    seeds the tables, returning an empty shortlist. Epoch-stamped codes +
    null-safe epoch exclusion give bit-for-bit replay stability; stream ≡
    batch code tables are pinned by test (assignment and encoding are
    pointwise under fixed centroids/codebooks)."""
    from schwab_elt_etl_pipeline_spark.operators.similarity import (
        build_ivfadc_index,
        extend_ivfadc_index,
        ivfadc_query_index,
    )

    if not cents_table.exists():
        build_ivfadc_index(
            batch, cents_table, books_table, codes_table,
            n_centroids=n_centroids, m=m, k_codes=k_codes,
            id_col=id_col, vec_col=vec_col, seed=seed,
        )
        # retrofit the epoch column onto the seed build so later epochs can
        # exclude their own replayed claims (build writes epoch-less codes)
        codes_table.overwrite_versioned(
            codes_table.read().withColumn("_epoch", F.lit(epoch).cast("long"))
        )
        return (
            batch.select(
                F.col(id_col).alias("q_id"),
                F.col(id_col).alias(id_col),
                F.lit(0.0).alias("adc_d2"),
            ).limit(0)
        )
    shortlist = ivfadc_query_index(
        cents_table, books_table, codes_table, batch, k=k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col, exclude_epoch=epoch,
    ).localCheckpoint(eager=True)
    extend_ivfadc_index(
        batch, cents_table, books_table, codes_table, id_col, vec_col,
        epoch=epoch,
    )
    return shortlist


def update_gram_index(
    batch: DataFrame,
    index: ParquetTable,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    epoch: int | None = None,
) -> DataFrame:
    """Incremental corpus NOVELTY scoring — the streaming twin of
    ``operators/text.py first_seen_novelty``, maintained exactly like the
    other incremental dedup indexes in this module: a persistent
    (gh, first_doc_id, _epoch) table of 8-byte n-gram fingerprints.

    Per batch: the batch's distinct (doc, gram) fingerprints probe the
    index; a gram is NOVEL for a document iff no prior batch claimed it
    (null-safe epoch contract, so replays reproduce their original output)
    and no lower-doc_id document in THIS batch carries it (min-doc claim,
    the same rank discipline as ``update_window_index``). Each document
    emits (doc_id, n_grams, n_new, novelty); first-ever fingerprints append
    via ``insert_new`` on ``gh`` — replays add nothing. When batches arrive
    in ascending ``doc_id`` order the cumulative output equals the batch
    operator over the concatenated corpus (pinned by test_streaming_corpus).
    O(batch) probe work per trigger; the index carries fingerprints only,
    never gram text — at 100 TB it is ``cluster_by=("gh",)`` for footer-stat
    probe pruning, like the window-fingerprint index."""
    from pyspark.sql.window import Window

    from schwab_elt_etl_pipeline_spark.operators.text import doc_gram_hashes

    dg = doc_gram_hashes(batch, n, id_col, text_col).localCheckpoint(
        eager=True  # probe + rank + index append share it
    )
    probed = _probe_seen(dg, index, "gh", epoch)
    rank = Window.partitionBy("gh").orderBy("doc_id")
    occ = probed.withColumn("rk", F.row_number().over(rank))
    out = (
        occ.withColumn(
            "_new", (~F.col("_seen")) & (F.col("rk") == 1)
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("_new"), 1)).alias("n_new"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_new",
            F.round(F.col("n_new").cast("double") / F.col("n_grams"), 6).alias(
                "novelty"
            ),
        )
    )
    new_fps = (
        occ.filter((~F.col("_seen")) & (F.col("rk") == 1))
        .select(
            "gh",
            F.col("doc_id").alias("first_doc_id"),
            F.lit(epoch).cast("long").alias("_epoch"),
        )
    )
    index.insert_new(new_fps, keys=["gh"])
    return out


def update_semdedup_index(
    batch: DataFrame,
    index: ParquetTable,
    cents: ParquetTable,
    k: int = 8,
    tau: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incrementally maintain the SemDeDup cell index — the SEMANTIC member
    of the incremental index family, the streaming twin of
    ``operators/semdedup.py semdedup_prune``. Assignment
    (``assign_cells``) and the verdict rule (``keep_first_dups``) are the
    batch operator's own functions, so the two paths cannot drift.

    Per call: (1) the FIRST batch seeds the fixed centroid table (the
    batch rule: vectors with id < k — the ingest contract delivers the
    corpus in ascending id order, so the seeds ride the first batch, the
    same arrival contract every twin in this family documents); later
    batches read the persisted centroids, so every batch assigns against
    the IDENTICAL cells. (2) Batch vectors probe the persisted members of
    their own cell — plus in-batch lower ids — for the smallest earlier
    member within ``tau`` (O(batch × cell) work per trigger, never
    O(corpus²)). (3) ALL batch members append idempotently on ``vec_id``
    — duplicates too, because the batch rule compares each vector against
    every lower-id cell member, not only keepers.

    Under ascending-id arrival the cumulative verdicts equal
    ``semdedup_prune`` over the concatenated corpus (pinned in
    tests/test_streaming_corpus.py); replaying a batch adds nothing and
    reproduces its verdicts (``insert_new``). At 100 TB the index is
    ``cluster_by=("cluster",)`` so footer stats prune the probe to the
    touched cells. Output: (vec_id, cluster, is_dup, dup_of) for every
    batch row.
    """
    from schwab_elt_etl_pipeline_spark.operators.semdedup import (
        assign_cells,
        keep_first_dups,
        seed_centroids,
    )
    from schwab_elt_etl_pipeline_spark.operators.similarity import (
        as_double,
        l2_norm,
    )

    if not cents.exists():
        seeds = seed_centroids(batch, k, id_col, vec_col)
        if seeds.limit(1).count() == 0:
            raise ValueError(
                "update_semdedup_index: first batch carries no seed vectors "
                f"(id < {k}); pre-seed the centroid table from the corpus or "
                "deliver the seed ids in the first batch (ascending-id "
                "arrival contract)"
            )
        cents.overwrite_versioned(seeds)
    vecs = batch.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("v")
    )
    assigned = (
        assign_cells(vecs, cents.read())
        .withColumn("nrm", l2_norm(F.col("v")))
        .localCheckpoint(eager=True)  # probe + verdicts + append share it
    )
    pool = (
        assigned.unionByName(
            index.read().select("vec_id", "v", "nrm", "cluster")
        )
        if index.exists()
        else assigned
    )
    dups = keep_first_dups(assigned, pool, tau)
    verdicts = (
        assigned.join(dups, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.when(F.col("dup_of").isNull(), 0).otherwise(1).alias("is_dup"),
            F.coalesce(F.col("dup_of"), F.lit(-1).cast("long")).alias("dup_of"),
        )
        # materialize BEFORE the append below: the lazy plan embeds
        # index.read(), and an action taken after insert_new would re-scan
        # the directory WITH the just-appended rows. (That re-read happens
        # to be harmless — the appended rows duplicate `assigned` and the
        # b_id < a_id min-aggregation absorbs them — but pinning
        # correctness on that coincidence is fragile; batch-sized, so the
        # checkpoint is cheap.)
        .localCheckpoint(eager=True)
    )
    index.insert_new(assigned, keys=["vec_id"])
    return verdicts
