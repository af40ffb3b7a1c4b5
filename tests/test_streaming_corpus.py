"""Streaming corpus ingestion: quality gate, exact-dedup exactly-once on the
content fingerprint, and incremental MinHash index maintenance."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest

pytestmark = pytest.mark.slow  # full suite is the gate; -m 'not slow' is the fast path
from pyspark.sql import functions as F

from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable
from schwab_elt_etl_pipeline_spark.streaming.corpus import (
    curate_stream,
    read_document_stream,
    update_minhash_index,
    write_curated_stream,
)

_TS = dt.datetime(2024, 6, 17, 12, 0, tzinfo=dt.timezone.utc)


def _doc(doc_id: int, text: str, minute: int = 0):
    return (
        doc_id,
        text,
        "en",
        "src0",
        len(text),
        _TS + dt.timedelta(minutes=minute),
    )


_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT, ingest_ts TIMESTAMP"


@pytest.fixture()
def dirs():
    made = [tempfile.mkdtemp(prefix=p) for p in ("docs_src_", "bronze_", "ckpt_")]
    yield made
    for d in made:
        shutil.rmtree(d, ignore_errors=True)


def test_curated_stream_dedups_and_gates(spark, dirs):
    src, bronze_dir, ckpt = dirs
    rows = [
        _doc(1, "the quick brown fox jumps over the lazy dog"),
        _doc(2, "the quick brown fox jumps over the lazy dog", minute=1),  # exact dup
        _doc(3, "tiny"),  # fails min_tokens gate
        _doc(4, "the completely different document about spark engines at scale"),
        # no marker token of ANY language: the recognizer gate must drop it
        # (lang_id's argmax always names a language; the gate is the score)
        _doc(5, "zzz qqq xxx vvv kkk jjj www ppp"),
    ]
    spark.createDataFrame(rows, _SCHEMA).write.mode("append").parquet(src)

    bronze = ParquetTable(spark, bronze_dir)
    stream = read_document_stream(spark, src)
    assert stream.isStreaming
    q = write_curated_stream(curate_stream(stream), bronze, ckpt)
    q.awaitTermination(120)

    out = bronze.read()
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 3 not in ids  # quality gate (min tokens)
    assert 5 not in ids  # language gate (zero marker hits)
    assert len(ids) == 2  # one of {1,2} survived the fp dedup
    assert len({1, 2} & ids) == 1
    assert 4 in ids

    # replaying the same shard is a no-op (anti-join on fp in the sink)
    ckpt2 = tempfile.mkdtemp(prefix="ckpt2_")
    try:
        q2 = write_curated_stream(
            curate_stream(read_document_stream(spark, src)), bronze, ckpt2
        )
        q2.awaitTermination(120)
        assert bronze.read().count() == 2
    finally:
        shutil.rmtree(ckpt2, ignore_errors=True)


def test_incremental_minhash_index(spark, dirs):
    _, idx_dir, _ = dirs
    index = ParquetTable(spark, idx_dir)
    b1 = spark.createDataFrame(
        [
            _doc(1, "alpha beta gamma delta epsilon zeta eta theta"),
            _doc(2, "one two three four five six seven eight nine ten"),
        ],
        _SCHEMA,
    )
    out1 = update_minhash_index(b1, index)
    assert out1.count() == 0  # first batch seeds the index, no candidates
    assert index.exists()

    # batch 2: doc 11 near-duplicates doc 1, doc 12 is novel
    b2 = spark.createDataFrame(
        [
            _doc(11, "alpha beta gamma delta epsilon zeta eta iota"),
            _doc(12, "unrelated text with entirely different content here"),
        ],
        _SCHEMA,
    )
    out2 = update_minhash_index(b2, index)
    pairs = {(r["batch_id"], r["index_id"]) for r in out2.collect()}
    assert (11, 1) in pairs
    assert all(b != 12 for b, _ in pairs)

    # index now holds bands for all four docs; replaying batch 2 adds nothing
    n_rows = index.read().count()
    update_minhash_index(b2, index)
    assert index.read().count() == n_rows  # insert_new on (id, band) is idempotent
    ids = {r["id"] for r in index.read().select("id").distinct().collect()}
    assert ids == {1, 2, 11, 12}


def test_incremental_ann_index(spark, dirs):
    import numpy as np

    _, _, idx_dir = dirs
    index = ParquetTable(spark, idx_dir + "_ann")
    rng = np.random.default_rng(11)

    def emb_rows(ids, base):
        return [
            (int(i), [float(x) for x in (base + 0.01 * rng.standard_normal(8))])
            for i in ids
        ]

    base_a = rng.standard_normal(8)
    base_b = -base_a  # opposite orthant → different sign bucket
    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    from schwab_elt_etl_pipeline_spark.streaming.corpus import update_ann_index

    b1 = spark.createDataFrame(emb_rows([1, 2], base_a) + emb_rows([3], base_b), schema)
    assert update_ann_index(b1, index).count() == 0  # seeds the index

    # batch 2: vector near cluster A must retrieve ids 1/2, not 3
    b2 = spark.createDataFrame(emb_rows([10], base_a), schema)
    out = update_ann_index(b2, index).collect()
    got = {r["index_id"] for r in out}
    assert got and got <= {1, 2}
    assert all(r["cos"] > 0.9 for r in out)

    # replay: index unchanged, same neighbors
    n = index.read().count()
    out2 = update_ann_index(b2, index).collect()
    assert index.read().count() == n
    assert {r["index_id"] for r in out2} == got


def test_ann_index_multi_probe_superset(spark, dirs):
    """Hamming-1 multi-probe must retrieve a superset of single-probe
    neighbors (same index, same query batch)."""
    import numpy as np

    from schwab_elt_etl_pipeline_spark.streaming.corpus import update_ann_index

    idx_dir = dirs[0] + "_mp"
    index = ParquetTable(spark, idx_dir)
    rng = np.random.default_rng(5)
    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    seed_rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(40)
    ]
    update_ann_index(spark.createDataFrame(seed_rows, schema), index)

    probe = spark.createDataFrame(
        [(100, [float(x) for x in rng.standard_normal(8)])], schema
    )
    single = {
        r["index_id"]
        for r in update_ann_index(probe, index, k=50).collect()
    }
    # re-probing: the probe vector itself is now indexed; exclude it
    multi = {
        r["index_id"]
        for r in update_ann_index(probe, index, k=50, multi_probe=True).collect()
        if r["index_id"] != 100
    }
    assert single - {100} <= multi
    assert len(multi) >= len(single - {100})


def test_incremental_passage_index_matches_batch_semantics(spark, dirs):
    """Two-batch incremental passage dedup must equal the one-shot batch
    operator over the union, and replaying a batch against the pre-batch
    index must be a no-op on the index and reproduce the same output."""
    from schwab_elt_etl_pipeline_spark.operators.dedup import passage_dedup_rebuild
    from schwab_elt_etl_pipeline_spark.streaming.corpus import update_passage_index

    src, idx_dir, _ = dirs
    p = 3  # small passages so cross-batch collisions actually occur

    batch1 = spark.createDataFrame(
        [
            (0, "a b c d e f"),            # passages: "a b c", "d e f"
            (1, "a b c x y z"),            # "a b c" dups doc 0 within batch
        ],
        "doc_id long, text string",
    )
    batch2 = spark.createDataFrame(
        [
            (2, "d e f g h i"),            # "d e f" dups doc 0 from batch 1
            (3, "g h i g h i"),            # "g h i" dups doc 2 within batch
            (4, "q r s"),                  # all fresh
        ],
        "doc_id long, text string",
    )

    index = ParquetTable(spark, idx_dir, cluster_by=("fp",))
    out1 = {
        r["doc_id"]: (r["n_passages"], r["n_kept"], r["deduped_text"])
        for r in update_passage_index(
            batch1, index, passage_tokens=p, epoch=1
        ).collect()
    }
    ref1 = {
        r["doc_id"]: (r["n_passages"], r["n_kept"], r["deduped_text"])
        for r in passage_dedup_rebuild(batch1, passage_tokens=p).collect()
    }
    assert out1 == ref1

    out2 = {
        r["doc_id"]: (r["n_passages"], r["n_kept"], r["deduped_text"])
        for r in update_passage_index(
            batch2, index, passage_tokens=p, epoch=2
        ).collect()
    }
    union_ref = {
        r["doc_id"]: (r["n_passages"], r["n_kept"], r["deduped_text"])
        for r in passage_dedup_rebuild(
            batch1.unionByName(batch2), passage_tokens=p
        ).collect()
        if r["doc_id"] >= 2
    }
    assert out2 == union_ref
    assert out2[2] == (2, 1, "g h i")
    assert out2[3] == (2, 0, "")

    # replay batch 2 against the REAL post-batch index with the SAME epoch
    # (foreachBatch is at-least-once; the epoch tags on the index rows make
    # the replayed probe treat this batch's own claims as fresh): identical
    # output, and the index gains nothing from re-appending (insert_new on
    # fp). This is the crash-after-append-before-checkpoint scenario.
    n_fps_after = index.read().count()
    out2_replay = {
        r["doc_id"]: (r["n_passages"], r["n_kept"], r["deduped_text"])
        for r in update_passage_index(
            batch2, index, passage_tokens=p, epoch=2
        ).collect()
    }
    assert out2_replay == out2
    assert index.read().count() == n_fps_after  # replayed append was a no-op

    # a LATER epoch replaying the same docs must NOT treat them as fresh
    out2_later = {
        r["doc_id"]: r["n_kept"]
        for r in update_passage_index(
            batch2, index, passage_tokens=p, epoch=3
        ).collect()
    }
    assert all(v == 0 for v in out2_later.values())


def test_minhash_index_first_write_keeps_one_row_per_band(spark, dirs):
    """A first batch that carries one document twice commits one index row
    per (id, band) — the rows an append into an existing index keeps —
    because the first write goes through the same keyed ``insert_new``."""
    _, idx_dir, _ = dirs
    text = "alpha beta gamma delta epsilon zeta eta theta"
    twice = spark.createDataFrame([_doc(1, text), _doc(1, text)], _SCHEMA)

    first = ParquetTable(spark, f"{idx_dir}/first")
    update_minhash_index(twice, first)
    appended = ParquetTable(spark, f"{idx_dir}/appended")
    update_minhash_index(
        spark.createDataFrame([_doc(2, "one two three four five six seven")], _SCHEMA),
        appended,
    )
    update_minhash_index(twice, appended)

    def _rows(df):
        return sorted(tuple(r) for r in df.filter(F.col("id") == 1).collect())

    rows = _rows(first.read())
    assert len(rows) == 16  # the default 16 bands, each once
    assert len({(i, band) for i, _sig, band, _bucket in rows}) == 16
    assert rows == _rows(appended.read())


def test_minhash_same_batch_pairs_are_surfaced(spark, dirs):
    """Two near-identical docs ARRIVING IN THE SAME micro-batch must appear
    as a candidate pair in that call — the index-only probe cannot see them
    (both are appended after the call), so the batch self-join must."""
    from schwab_elt_etl_pipeline_spark.streaming.corpus import update_minhash_index

    _, idx_dir, _ = dirs
    index = ParquetTable(spark, idx_dir)
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b1 = spark.createDataFrame(
        [
            (10, text),
            (11, text + " lambda"),  # near-dup of 10, same batch
            (12, "completely unrelated words nothing shared here at all ok"),
        ],
        "doc_id long, text string",
    )
    out = update_minhash_index(b1, index)
    pairs = {(r["batch_id"], r["index_id"]) for r in out.collect()}
    assert (10, 11) in pairs
    assert not any(12 in p for p in pairs)

    # and the first call populates the index so a LATER near-dup still hits
    b2 = spark.createDataFrame([(20, text + " mu")], "doc_id long, text string")
    out2 = update_minhash_index(b2, index)
    hits = {r["index_id"] for r in out2.collect()}
    assert {10, 11} <= hits


def test_window_index_matches_batch_operator_and_replays(spark, dirs):
    """Incremental substring dedup: two id-ordered batches through the
    window-fingerprint index equal the batch operator over the concatenated
    corpus; a replayed epoch reproduces its output bit-for-bit."""
    from schwab_elt_etl_pipeline_spark.operators.dedup import substring_dedup_rebuild
    from schwab_elt_etl_pipeline_spark.streaming.corpus import update_window_index

    _, idx_dir, extra = dirs
    k = 3
    rows1 = [
        (0, "a b c d e f g"),        # fresh
        (1, "z1 a b c d z2 z3"),     # "a b c d" span dups doc 0 (cross-doc, in batch)
    ]
    rows2 = [
        (2, "y1 c d e f y2 y3"),     # span dups doc 0 from batch 1 via index
        (3, "p q r s p q r s"),      # within-doc repeat
        (4, "m n o"),                # fresh, exactly k tokens
    ]
    batch1 = spark.createDataFrame(rows1, "doc_id long, text string")
    batch2 = spark.createDataFrame(rows2, "doc_id long, text string")
    union = spark.createDataFrame(rows1 + rows2, "doc_id long, text string")

    index = ParquetTable(spark, f"{idx_dir}_win", cluster_by=("fp",))
    get = lambda df: {
        r["doc_id"]: (r["n_tokens"], r["n_dropped"], r["deduped_text"])
        for r in df.collect()
    }
    out1 = get(update_window_index(batch1, index, window_tokens=k, epoch=1))
    out2 = get(update_window_index(batch2, index, window_tokens=k, epoch=2))
    ref = get(substring_dedup_rebuild(union, window_tokens=k))
    assert {**out1, **out2} == ref

    # replayed epoch 2 (at-least-once foreachBatch) is output-stable and
    # adds nothing to the index
    n_before = index.read().count()
    replay = get(update_window_index(batch2, index, window_tokens=k, epoch=2))
    assert replay == out2
    assert index.read().count() == n_before


@pytest.mark.parametrize(
    "fn, kwargs, key, expected",
    [
        # (doc_id, n_passages, n_kept, deduped_text)
        ("update_passage_index", {"passage_tokens": 8}, "fp", (1, 1, 0, "")),
        # (doc_id, n_tokens, n_dropped, deduped_text)
        ("update_window_index", {"window_tokens": 8}, "fp", (1, 8, 8, "")),
        # (doc_id, n_grams, n_new, novelty)
        ("update_gram_index", {"n": 3}, "gh", (1, 6, 0, 0.0)),
    ],
    ids=["passage", "window", "gram"],
)
def test_null_epoch_index_rows_stay_seen(spark, dirs, fn, kwargs, key, expected):
    """Index rows claimed WITHOUT an epoch (direct batch use) must count as
    seen under any later epoch — NULL != epoch is SQL NULL and an un-coalesced
    comparison would let previously-indexed duplicates through intact."""
    from schwab_elt_etl_pipeline_spark.streaming import corpus

    _, idx_dir, _ = dirs
    index = ParquetTable(spark, f"{idx_dir}_nullep", cluster_by=(key,))
    text = "a b c d e f g h"
    b1 = spark.createDataFrame([(0, text)], "doc_id long, text string")
    b2 = spark.createDataFrame([(1, text)], "doc_id long, text string")
    update = getattr(corpus, fn)
    update(b1, index, epoch=None, **kwargs).collect()
    assert [tuple(r) for r in update(b2, index, epoch=5, **kwargs).collect()] == [expected]


# ---------------------------------------------------------------------------
# Incremental persisted PQ index (update_pq_index)
# ---------------------------------------------------------------------------


def _pq_dirs():
    return [tempfile.mkdtemp(prefix=p) for p in ("pq_books_", "pq_codes_")]


def _emb_batch(spark, rng, ids, base):
    rows = [
        (int(i), [float(x) for x in (base + 0.01 * rng.standard_normal(8))])
        for i in ids
    ]
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")


def test_pq_index_stream_equals_batch_build(spark):
    """Stream-built code table == batch-built (build on the seed batch +
    one extend of the remainder): encoding is pointwise under fixed
    codebooks, so batching cannot change the codes."""
    import numpy as np

    from schwab_elt_etl_pipeline_spark.operators.similarity import (
        build_pq_index,
        extend_pq_index,
    )
    from schwab_elt_etl_pipeline_spark.streaming.corpus import update_pq_index

    rng = np.random.default_rng(7)
    base_a, base_b = rng.standard_normal(8), rng.standard_normal(8)
    seed = _emb_batch(spark, rng, range(0, 6), base_a)
    b2 = _emb_batch(spark, rng, range(6, 10), base_b)
    b3 = _emb_batch(spark, rng, range(10, 14), base_a)

    s_dirs, b_dirs = _pq_dirs(), _pq_dirs()
    try:
        sb, sc = (ParquetTable(spark, d) for d in s_dirs)
        bb, bc = (ParquetTable(spark, d) for d in b_dirs)
        # stream path: three epochs
        assert update_pq_index(seed, sb, sc, m=4, k_codes=4, epoch=0).count() == 0
        update_pq_index(b2, sb, sc, m=4, k_codes=4, epoch=1)
        update_pq_index(b3, sb, sc, m=4, k_codes=4, epoch=2)
        # batch path: build on the SAME seed, extend once with the rest
        build_pq_index(seed, bb, bc, m=4, k_codes=4)
        extend_pq_index(b2.unionByName(b3), bb, bc)
        stream_codes = {
            (r["vec_id"], r["sub"], r["code"]) for r in sc.read().collect()
        }
        batch_codes = {
            (r["vec_id"], r["sub"], r["code"]) for r in bc.read().collect()
        }
        assert stream_codes == batch_codes
        # codebooks identical too (same seed batch, same kmeans seed)
        sbooks = {(r["sub"], r["code"], tuple(r["centroid"])) for r in sb.read().collect()}
        bbooks = {(r["sub"], r["code"], tuple(r["centroid"])) for r in bb.read().collect()}
        assert sbooks == bbooks
    finally:
        for d in s_dirs + b_dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_pq_index_query_and_replay_stability(spark):
    """The shortlist ranks same-cluster vectors first, the append is
    replay-idempotent, and a replayed epoch reproduces its original
    shortlist (its own claims are excluded from the query scan)."""
    import numpy as np

    from schwab_elt_etl_pipeline_spark.streaming.corpus import update_pq_index

    rng = np.random.default_rng(13)
    base_a = rng.standard_normal(8) * 3
    base_b = -base_a
    seed = _emb_batch(spark, rng, range(0, 5), base_a)  # cluster A: ids 0-4
    far = _emb_batch(spark, rng, range(5, 10), base_b)  # cluster B: ids 5-9
    probe = _emb_batch(spark, rng, [100, 101], base_a)  # near cluster A

    dirs = _pq_dirs()
    try:
        books, codes = (ParquetTable(spark, d) for d in dirs)
        update_pq_index(seed, books, codes, m=4, k_codes=4, epoch=0)
        update_pq_index(far, books, codes, m=4, k_codes=4, epoch=1)
        out = update_pq_index(probe, books, codes, m=4, k_codes=4, k=3, epoch=2)
        got = {(r["q_id"], r["vec_id"]) for r in out.collect()}
        # every neighbor of the A-cluster probes is an A-cluster id
        assert got and all(v in range(0, 5) for _, v in got)
        n = codes.read().count()
        # replay epoch 2: no new codes, identical shortlist
        out2 = update_pq_index(probe, books, codes, m=4, k_codes=4, k=3, epoch=2)
        assert codes.read().count() == n
        assert {(r["q_id"], r["vec_id"]) for r in out2.collect()} == got
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Incremental persisted IVFADC index (update_ivfadc_index)
# ---------------------------------------------------------------------------


def _ivfadc_dirs():
    return [tempfile.mkdtemp(prefix=p) for p in ("ivf_cents_", "ivf_books_", "ivf_codes_")]


def test_ivfadc_index_stream_equals_batch_build(spark):
    """Stream-built IVFADC code table == batch-built (build on the seed
    batch + one extend of the remainder): cell assignment and residual
    encoding are pointwise under fixed centroids/codebooks."""
    import numpy as np

    from schwab_elt_etl_pipeline_spark.operators.similarity import (
        build_ivfadc_index,
        extend_ivfadc_index,
    )
    from schwab_elt_etl_pipeline_spark.streaming.corpus import update_ivfadc_index

    rng = np.random.default_rng(23)
    base_a, base_b = rng.standard_normal(8) * 2, rng.standard_normal(8) * 2
    seed = _emb_batch(spark, rng, range(0, 6), base_a).unionByName(
        _emb_batch(spark, rng, range(20, 26), base_b)
    )
    b2 = _emb_batch(spark, rng, range(6, 10), base_b)
    b3 = _emb_batch(spark, rng, range(10, 14), base_a)

    s_dirs, b_dirs = _ivfadc_dirs(), _ivfadc_dirs()
    try:
        sc_, sb, scd = (ParquetTable(spark, d) for d in s_dirs)
        bc_, bb, bcd = (ParquetTable(spark, d) for d in b_dirs)
        assert (
            update_ivfadc_index(
                seed, sc_, sb, scd, n_centroids=2, m=4, k_codes=4, epoch=0
            ).count()
            == 0
        )
        update_ivfadc_index(b2, sc_, sb, scd, n_centroids=2, m=4, k_codes=4, epoch=1)
        update_ivfadc_index(b3, sc_, sb, scd, n_centroids=2, m=4, k_codes=4, epoch=2)
        build_ivfadc_index(seed, bc_, bb, bcd, n_centroids=2, m=4, k_codes=4)
        extend_ivfadc_index(b2.unionByName(b3), bc_, bb, bcd)
        stream_codes = {
            (r["vec_id"], r["cell"], r["sub"], r["code"])
            for r in scd.read().collect()
        }
        batch_codes = {
            (r["vec_id"], r["cell"], r["sub"], r["code"])
            for r in bcd.read().collect()
        }
        assert stream_codes == batch_codes
        s_cents = {(r["cell"], tuple(r["centroid"])) for r in sc_.read().collect()}
        b_cents = {(r["cell"], tuple(r["centroid"])) for r in bc_.read().collect()}
        assert s_cents == b_cents
    finally:
        for d in s_dirs + b_dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_ivfadc_index_query_and_replay_stability(spark):
    """Probing near cluster A retrieves A-cluster ids; replays append
    nothing and reproduce the original shortlist."""
    import numpy as np

    from schwab_elt_etl_pipeline_spark.streaming.corpus import update_ivfadc_index

    rng = np.random.default_rng(29)
    base_a = rng.standard_normal(8) * 4
    base_b = -base_a
    seed = _emb_batch(spark, rng, range(0, 5), base_a).unionByName(
        _emb_batch(spark, rng, range(5, 10), base_b)
    )
    probe = _emb_batch(spark, rng, [100, 101], base_a)

    dirs = _ivfadc_dirs()
    try:
        cents, books, codes = (ParquetTable(spark, d) for d in dirs)
        update_ivfadc_index(seed, cents, books, codes, n_centroids=2, m=4, k_codes=4, epoch=0)
        out = update_ivfadc_index(
            probe, cents, books, codes, n_centroids=2, m=4, k_codes=4, k=3,
            n_probe=1, epoch=1,
        )
        got = {(r["q_id"], r["vec_id"]) for r in out.collect()}
        assert got and all(v in range(0, 5) for _, v in got)
        n = codes.read().count()
        out2 = update_ivfadc_index(
            probe, cents, books, codes, n_centroids=2, m=4, k_codes=4, k=3,
            n_probe=1, epoch=1,
        )
        assert codes.read().count() == n
        assert {(r["q_id"], r["vec_id"]) for r in out2.collect()} == got
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_incremental_simhash_index_matches_batch_operator(spark, dirs):
    """Stream-incremental SimHash candidates over two batches must equal the
    batch operator's pair set over the union corpus (same blocking, same
    recall guarantee), and the index append must be replay-idempotent."""
    from schwab_elt_etl_pipeline_spark.operators.dedup import simhash_block_candidates
    from schwab_elt_etl_pipeline_spark.streaming.corpus import update_simhash_index

    _, idx_dir, _ = dirs
    index = ParquetTable(spark, idx_dir)
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    rows1 = [
        (1, base),
        (2, base + " truly"),            # near-dup of 1, same batch
        (3, "completely different words about spark shuffles and joins"),
    ]
    rows2 = [
        (11, base + " indeed"),          # near-dup of 1/2, later batch
        (12, "novel content unrelated to anything indexed before now"),
    ]
    schema = "doc_id long, text string"
    out1 = update_simhash_index(spark.createDataFrame(rows1, schema), index)
    out2 = update_simhash_index(spark.createDataFrame(rows2, schema), index)
    streamed = {
        tuple(sorted((r["batch_id"], r["index_id"])))
        for out in (out1, out2)
        for r in out.collect()
    }

    batch = simhash_block_candidates(
        spark.createDataFrame(rows1 + rows2, schema)
    )
    expected = {
        tuple(sorted((r["a_id"], r["b_id"]))) for r in batch.collect()
    }
    assert streamed == expected
    assert (1, 2) in streamed  # sanity: the near-dups actually collide

    # replaying batch 2 must not grow the index (insert_new on (id, block))
    n = index.read().count()
    update_simhash_index(spark.createDataFrame(rows2, schema), index)
    assert index.read().count() == n


def test_gram_novelty_index_matches_batch_and_replays(spark, dirs):
    """Incremental novelty (update_gram_index) == first_seen_novelty over
    the concatenated corpus when batches arrive in ascending doc_id order;
    replayed epochs are output-stable and add nothing."""
    from schwab_elt_etl_pipeline_spark.operators.text import first_seen_novelty
    from schwab_elt_etl_pipeline_spark.streaming.corpus import update_gram_index

    _, idx_dir, _ = dirs
    rows1 = [
        (0, "a b c d e"),            # introduces everything
        (1, "a b c x y z"),          # "a b c" already claimed by doc 0
    ]
    rows2 = [
        (2, "c d e q r s"),          # "c d e" seen via index from batch 1
        (3, "a b c d e"),            # fully boilerplate by now
        (4, "fresh tokens only here"),
    ]
    b1 = spark.createDataFrame(rows1, "doc_id long, text string")
    b2 = spark.createDataFrame(rows2, "doc_id long, text string")
    union = spark.createDataFrame(rows1 + rows2, "doc_id long, text string")
    index = ParquetTable(spark, f"{idx_dir}_grams", cluster_by=("gh",))
    get = lambda df: {
        r["doc_id"]: (r["n_grams"], r["n_new"], r["novelty"]) for r in df.collect()
    }
    out1 = get(update_gram_index(b1, index, n=3, epoch=1))
    out2 = get(update_gram_index(b2, index, n=3, epoch=2))
    ref = get(first_seen_novelty(union, n=3))
    assert {**out1, **out2} == ref
    assert out2[3] == (3, 0, 0.0)  # fully-boilerplate doc introduces nothing
    assert out1[0][1] == out1[0][0]  # first doc introduces all its grams

    n_before = index.read().count()
    replay = get(update_gram_index(b2, index, n=3, epoch=2))
    assert replay == out2
    assert index.read().count() == n_before


def test_gram_novelty_symmetric_and_prefix_forms_agree_on_uniques(spark):
    """ngram_novelty (df == 1) and first_seen_novelty count the same grams
    as novel when every gram occurs in exactly one document."""
    from schwab_elt_etl_pipeline_spark.operators.text import first_seen_novelty

    rows = [(0, "aa bb cc dd"), (1, "ee ff gg hh"), (2, "ii jj kk ll mm")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["novelty"] for r in first_seen_novelty(docs, n=3).collect()}
    assert out == {0: 1.0, 1: 1.0, 2: 1.0}


def test_incremental_phash_index_matches_batch_operator(spark, dirs):
    """Stream-incremental pHash image candidates over two batches must
    equal the batch operator's candidate set over the union corpus (same
    integer-DCT hash, same pigeonhole blocking), and the index append must
    be replay-idempotent — multimodal dedup as an incremental index."""
    from schwab_elt_etl_pipeline_spark.operators.phash import (
        luma_cells,
        phash64,
        phash_blocked,
    )
    from schwab_elt_etl_pipeline_spark.streaming.corpus import update_phash_index

    _, idx_dir, _ = dirs
    index = ParquetTable(spark, idx_dir)
    base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    rows1 = [
        (1, base),
        (2, base.replace("zeta", "zetaX", 1)),   # near-dup of 1, same batch
        (3, "one two three four five six seven eight nine ten " * 5),
    ]
    rows2 = [
        (11, base.replace("eta", "etaY", 1)),    # near-dup arriving later
        (12, "completely novel words about spark shuffles and joins here"),
    ]
    schema = "doc_id long, text string"
    out1 = update_phash_index(spark.createDataFrame(rows1, schema), index)
    out2 = update_phash_index(spark.createDataFrame(rows2, schema), index)
    streamed = {
        tuple(sorted((r["batch_id"], r["index_id"])))
        for out in (out1, out2)
        for r in out.collect()
    }

    banded = phash_blocked(
        phash64(luma_cells(spark.createDataFrame(rows1 + rows2, schema)))
    )
    a, b = banded.alias("a"), banded.alias("b")
    expected = {
        tuple(sorted((r["a_id"], r["b_id"])))
        for r in a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
        .collect()
    }
    assert streamed == expected
    assert (1, 2) in streamed  # sanity: the near-dups actually collide

    # replaying batch 2 must not grow the index (insert_new on (id, block))
    n = index.read().count()
    update_phash_index(spark.createDataFrame(rows2, schema), index)
    assert index.read().count() == n


def test_incremental_afp_index_matches_batch_operator(spark, dirs):
    """Stream-incremental audio-fingerprint candidates over two batches
    must equal the batch operator's candidate set over the union corpus
    (same sign-bit fingerprint, same pigeonhole blocking through the
    SHARED _update_blocked_hash_index protocol), and the index append must
    be replay-idempotent — audio dedup as an incremental index."""
    from schwab_elt_etl_pipeline_spark.operators.audiofp import (
        BITS,
        afp63,
        level_cells,
    )
    from schwab_elt_etl_pipeline_spark.operators.phash import phash_blocked
    from schwab_elt_etl_pipeline_spark.streaming.corpus import update_afp_index

    _, idx_dir, _ = dirs
    index = ParquetTable(spark, idx_dir)
    base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    rows1 = [
        (1, base),
        (2, base.replace("zeta", "zetaq", 1)),   # near-dup of 1, same batch
        (3, "zz yy xx ww vv uu tt ss rr qq " * 5),
    ]
    rows2 = [
        (11, base.replace("eta", "etay", 1)),    # near-dup arriving later
        (12, "completely novel words about spark shuffles and joins here"),
    ]
    schema = "doc_id long, text string"
    out1 = update_afp_index(spark.createDataFrame(rows1, schema), index)
    out2 = update_afp_index(spark.createDataFrame(rows2, schema), index)
    streamed = {
        tuple(sorted((r["batch_id"], r["index_id"])))
        for out in (out1, out2)
        for r in out.collect()
    }

    banded = phash_blocked(
        afp63(level_cells(spark.createDataFrame(rows1 + rows2, schema))),
        blocks=8,
        hash_col="afp",
        bits=BITS,
    )
    a, b = banded.alias("a"), banded.alias("b")
    expected = {
        tuple(sorted((r["a_id"], r["b_id"])))
        for r in a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
        .collect()
    }
    assert streamed == expected
    assert (1, 2) in streamed  # sanity: the near-dups actually collide

    # replaying batch 2 must not grow the index (insert_new on (id, block))
    n = index.read().count()
    update_afp_index(spark.createDataFrame(rows2, schema), index)
    assert index.read().count() == n


def test_incremental_video_phash_index_matches_batch_operator(spark, dirs):
    """Stream-incremental video near-dup verdicts over two batches equal
    the batch operator over the union corpus (the frame-pair vote is
    symmetric, so normalized pairs carry identical counts/minima), and
    the index append is replay-idempotent."""
    from schwab_elt_etl_pipeline_spark.operators.phash import video_phash_pairs
    from schwab_elt_etl_pipeline_spark.streaming.corpus import (
        update_video_phash_index,
    )

    _, idx_dir, _ = dirs
    index = ParquetTable(spark, idx_dir)
    base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    rows1 = [
        (1, base),
        (2, base.replace("zeta", "zetaX", 1)),
        (3, "one two three four five six seven eight nine ten " * 5),
    ]
    rows2 = [
        (11, base.replace("eta", "etaY", 1)),   # near-dup arriving later
        (12, "completely novel words about spark shuffles and joins here"),
    ]
    schema = "doc_id long, text string"
    out1 = update_video_phash_index(spark.createDataFrame(rows1, schema), index)
    out2 = update_video_phash_index(spark.createDataFrame(rows2, schema), index)
    streamed = {
        tuple(sorted((r["batch_id"], r["index_id"]))): (
            r["n_frame_matches"],
            r["min_hamming"],
        )
        for out in (out1, out2)
        for r in out.collect()
    }
    expected = {
        (r["a_id"], r["b_id"]): (r["n_frame_matches"], r["min_hamming"])
        for r in video_phash_pairs(
            spark.createDataFrame(rows1 + rows2, schema)
        ).collect()
    }
    assert streamed == expected
    assert (1, 2) in streamed  # sanity: near-dups collide on >= 2 frames

    n = index.read().count()
    update_video_phash_index(spark.createDataFrame(rows2, schema), index)
    assert index.read().count() == n


def test_incremental_url_index_matches_batch_operator(spark, dirs):
    """Stream-incremental URL-dedup verdicts over two batches: keepers
    equal the batch operator's `url_dup_groups` over the union corpus,
    spellings arriving in one batch still collapse (in-batch self-pair
    rule), and the index append is replay-idempotent."""
    from schwab_elt_etl_pipeline_spark.operators.urls import url_dup_groups
    from schwab_elt_etl_pipeline_spark.streaming.corpus import update_url_index

    _, idx_dir, _ = dirs
    index = ParquetTable(spark, idx_dir)
    rows1 = [
        (1, "https://WWW.Ex.COM/p?utm_source=a&page=1"),  # keeper for page=1
        (2, "https://ex.com/p?page=1&ref=x"),             # same page, same batch
        (3, "https://ex.com/p?page=2"),
    ]
    rows2 = [
        (11, "https://ex.com/p/?page=1"),                 # same page, later batch
        (12, "https://ex.com/q?page=9"),                  # novel
        (13, "not a url"),                                # malformed: quarantined
    ]
    schema = "doc_id long, url string"
    out1 = update_url_index(spark.createDataFrame(rows1, schema), index)
    out2 = update_url_index(spark.createDataFrame(rows2, schema), index)
    got = {
        r.doc_id: (r.canonical_url, r.first_doc, r.is_dup)
        for out in (out1, out2)
        for r in out.collect()
    }
    assert got[1] == ("https://ex.com/p?page=1", 1, False)
    assert got[2] == ("https://ex.com/p?page=1", 1, True)   # in-batch collapse
    assert got[11] == ("https://ex.com/p?page=1", 1, True)  # cross-batch probe
    assert got[12] == ("https://ex.com/q?page=9", 12, False)
    assert got[13] == (None, None, False)  # quarantine row, not dropped

    drained = {
        (r.canonical_url, r.first_doc) for r in index.read().collect()
    }
    batch_keepers = {
        (r.canonical_url, r.first_doc)
        for r in url_dup_groups(
            spark.createDataFrame(rows1 + rows2, schema)
        ).collect()
    }
    assert drained == batch_keepers  # drained index == batch operator

    n = index.read().count()
    update_url_index(spark.createDataFrame(rows2, schema), index)
    assert index.read().count() == n  # replay adds nothing


def test_incremental_shard_manifest_matches_batch_operator(spark, dirs):
    """The maintained shard ledger serves the EXACT manifest the batch
    operator computes over the union of ingested batches (shared
    shard_of/token_count/manifest_shares kernels), replays insert
    nothing, and consolidation is read-identical."""
    from schwab_elt_etl_pipeline_spark.operators.sharding import shard_manifest
    from schwab_elt_etl_pipeline_spark.streaming.shard_stream import (
        consolidate_shard_stats,
        current_shard_manifest,
        update_shard_stats,
    )

    _, idx_dir, _ = dirs
    stats = ParquetTable(spark, idx_dir)
    rows1 = [(i, "w " * (i % 7 + 1)) for i in range(25)] + [(25, "   ")]
    rows2 = [(100 + i, "x y z " * (i % 3 + 1)) for i in range(15)]
    schema = "doc_id long, text string"
    update_shard_stats(spark.createDataFrame(rows1, schema), stats, epoch=0)
    update_shard_stats(spark.createDataFrame(rows2, schema), stats, epoch=1)

    def snap(df):
        return {tuple(r) for r in df.collect()}

    expected = snap(
        shard_manifest(spark.createDataFrame(rows1 + rows2, schema), shards=8)
    )
    assert snap(current_shard_manifest(stats)) == expected

    n = stats.read().count()
    update_shard_stats(spark.createDataFrame(rows2, schema), stats, epoch=1)
    assert stats.read().count() == n  # replayed epoch inserts nothing

    consolidate_shard_stats(stats)
    assert snap(current_shard_manifest(stats)) == expected  # read-identical


def test_shard_ledger_invariant_under_batch_splits(spark):
    """Hypothesis sweep: however the same rows are split into epochs, the
    served manifest equals the batch operator over the union — the
    associativity claim the ledger's algebra rests on."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from schwab_elt_etl_pipeline_spark.operators.sharding import shard_manifest
    from schwab_elt_etl_pipeline_spark.streaming.shard_stream import (
        current_shard_manifest,
        update_shard_stats,
    )

    schema = "doc_id long, text string"

    @settings(
        max_examples=4, deadline=None, suppress_health_check=list(HealthCheck)
    )
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=10**6),
                st.text(alphabet="ab ", max_size=12),
            ),
            min_size=1,
            max_size=20,
            unique_by=lambda t: t[0],
        ),
        cut=st.integers(min_value=0, max_value=20),
    )
    def run(rows, cut):
        root = tempfile.mkdtemp(prefix="shardprop_")
        try:
            stats = ParquetTable(spark, root)
            cut_at = min(cut, len(rows))
            for ep, part in enumerate((rows[:cut_at], rows[cut_at:])):
                if part:
                    update_shard_stats(
                        spark.createDataFrame(part, schema), stats, epoch=ep
                    )
            got = {tuple(r) for r in current_shard_manifest(stats).collect()}
            want = {
                tuple(r)
                for r in shard_manifest(
                    spark.createDataFrame(rows, schema), shards=8
                ).collect()
            }
            assert got == want
        finally:
            shutil.rmtree(root, ignore_errors=True)

    run()


def test_url_index_compaction_read_identical(spark, dirs):
    """compact_index over the (epoch-less) URL index: the folded base
    version serves the same keeper set, and post-compaction probes still
    resolve dups against it."""
    from schwab_elt_etl_pipeline_spark.streaming.corpus import (
        compact_index,
        update_url_index,
    )

    _, idx_dir, _ = dirs
    index = ParquetTable(spark, idx_dir, cluster_by=("canonical_url",))
    schema = "doc_id long, url string"
    update_url_index(
        spark.createDataFrame([(1, "https://ex.com/p?page=1")], schema), index
    )
    update_url_index(
        spark.createDataFrame([(2, "https://ex.com/q?page=2")], schema), index
    )
    before = {tuple(r) for r in index.read().collect()}
    compact_index(index)
    assert {tuple(r) for r in index.read().collect()} == before
    out = update_url_index(
        spark.createDataFrame(
            [(9, "https://WWW.ex.com/p/?page=1&utm_source=x")], schema
        ),
        index,
    ).collect()
    assert [(r.doc_id, r.first_doc, r.is_dup) for r in out] == [(9, 1, True)]


def test_incremental_semdedup_index_matches_batch_operator(spark, dirs):
    """Ascending-id batches through update_semdedup_index: cumulative
    verdicts equal the batch semdedup_prune over the union corpus (shared
    assign_cells / keep_first_dups definitions), and replaying the last
    batch adds nothing and reproduces its verdicts."""
    from schwab_elt_etl_pipeline_spark.operators.semdedup import semdedup_prune
    from schwab_elt_etl_pipeline_spark.streaming.corpus import (
        update_semdedup_index,
    )

    _, idx_dir, cents_dir = dirs
    index = ParquetTable(spark, idx_dir, cluster_by=("cluster",))
    cents = ParquetTable(spark, cents_dir)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    splits = [emb.filter(f"vec_id < 20"),
              emb.filter("vec_id >= 20 and vec_id < 60"),
              emb.filter("vec_id >= 60")]
    got = {}
    last = None
    for b in splits:
        last = update_semdedup_index(b, index, cents, k=8, tau=0.35)
        got.update(
            {r.vec_id: (r.cluster, r.is_dup, r.dup_of) for r in last.collect()}
        )
    want = {
        r.vec_id: (r.cluster, r.is_dup, r.dup_of)
        for r in semdedup_prune(emb, k=8, tau=0.35).collect()
    }
    assert got == want
    assert any(v[1] == 1 for v in got.values())  # regime has real dups
    # replay: same verdicts, index unchanged
    n_before = index.read().count()
    replay = update_semdedup_index(splits[-1], index, cents, k=8, tau=0.35)
    assert {
        r.vec_id: (r.cluster, r.is_dup, r.dup_of) for r in replay.collect()
    } == {r.vec_id: (r.cluster, r.is_dup, r.dup_of) for r in last.collect()}
    assert index.read().count() == n_before


def test_semdedup_index_compaction_read_identical(spark, dirs):
    """compact_index over the (epoch-less) SemDeDup member index: the
    folded base version serves the same member set, and post-compaction
    probes still resolve dups against it."""
    from schwab_elt_etl_pipeline_spark.streaming.corpus import (
        compact_index,
        update_semdedup_index,
    )

    _, idx_dir, cents_dir = dirs
    index = ParquetTable(spark, idx_dir, cluster_by=("cluster",))
    cents = ParquetTable(spark, cents_dir)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    update_semdedup_index(emb.filter("vec_id < 30"), index, cents)
    update_semdedup_index(
        emb.filter("vec_id >= 30 and vec_id < 60"), index, cents
    )
    before = {(r.vec_id, r.cluster) for r in index.read().collect()}
    compact_index(index)
    assert {(r.vec_id, r.cluster) for r in index.read().collect()} == before
    out = update_semdedup_index(emb.filter("vec_id >= 60"), index, cents)
    got = {r.vec_id: (r.cluster, r.is_dup, r.dup_of) for r in out.collect()}
    from schwab_elt_etl_pipeline_spark.operators.semdedup import semdedup_prune

    want = {
        r.vec_id: (r.cluster, r.is_dup, r.dup_of)
        for r in semdedup_prune(emb).collect()
        if r.vec_id >= 60
    }
    assert got == want
