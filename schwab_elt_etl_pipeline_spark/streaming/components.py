"""Incremental connected components — the dedup-cluster member of the
persisted-index family (``streaming/corpus.py``).

``operators/dedup.py connected_components`` turns near-dup PAIRS into
CLUSTERS, but recomputes from scratch: at corpus scale that re-runs
pointer-jumping over every edge ever seen on every arrival. This module
maintains the (node → component) mapping incrementally — the missing piece
for incremental canonicalization and leakage-safe splits
(``dedup_clusters`` / ``leakage_safe_split`` are the batch forms).

The state is a **union-find expressed as two append-only tables** (no row
is ever rewritten outside compaction, so the write path composes with the
same ``insert_new`` exactly-once protocol as every other index):

- ``members``: ``(node, root, _epoch)`` keyed on node — one row per node
  ever seen, stamped with the component root that was CURRENT when the
  node arrived. Roots are minimum node ids (the batch operator's labeling).
- ``remap``: ``(old_root, new_root, _epoch)`` keyed on old_root — one row
  per component-merge event. A root is retired at most once ever (after a
  merge it can never be a root again), so the key is naturally unique and
  replays insert nothing.

Resolution (``current_components``): stale member roots are chased through
the remap forest. Because every ``new_root`` is the minimum id of the
merged set, running the SAME min-label ``connected_components`` over the
remap rows yields each retired root's final label in O(log chain) rounds —
and remap is merge-event-sized (tiny next to members), so the closure
BROADCASTS and members never shuffles.

Per batch (``update_components_index``): (1) resolve the batch edges'
endpoints through members + the remap closure — an O(batch) probe; (2) run
pointer-jumping ONLY on the contracted graph (one supernode per touched
component — the frontier, never the corpus); (3) append the merge events
to remap and the new nodes to members. A replayed epoch resolves its
endpoints to the post-merge roots, contracts every edge to a self-loop,
and appends nothing — idempotence falls out of the fixpoint, no epoch
arithmetic needed (the stamps are audit metadata).

``compact_components`` folds the remap chains into members (reads are
bit-identical before and after).

Reference behavior mirrored: the incremental twin of
``operators/dedup.py:355`` (see tests/test_streaming_components.py for the
stream ≡ batch pin across merge events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from schwab_elt_etl_pipeline_spark.operators.dedup import connected_components
from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable
from schwab_elt_etl_pipeline_spark.streaming.epochs import consolidate, stamp


def _closure_table(remap: ParquetTable) -> ParquetTable:
    """The maintained transitive closure of the remap forest — a sibling
    table so existing (members, remap) call sites need no new handle."""
    return ParquetTable(remap.spark, remap.path + "__closure")


#: remap paths whose closure THIS process has verified or written — lets the
#: steady-state trigger path skip the two freshness count() actions. Process
#: lifetime only: a restart (the only way a crash-stale closure can exist
#: under the single-writer insert_new contract) starts cold and re-verifies.
_CLOSURE_FRESH: set[str] = set()


def _remap_closure(remap: ParquetTable) -> DataFrame | None:
    """(root, comp): every retired root's FINAL label, fully resolved.

    The closure is MAINTAINED incrementally by ``update_components_index``
    (one broadcast-join fold per trigger), so the normal path here is a
    plain read — no per-trigger pointer jumping. Freshness check: remap is
    keyed on old_root and the closure carries exactly one row per retired
    root, so equal row counts ⟺ in sync; a mismatch (a crash between the
    remap append and the closure rewrite, or an index written by an older
    version) HEALS by re-deriving the closure with min-label CC over the
    merge events — sound because new_root is always the minimum of the
    merged set, so the minimum label of a remap chain's connected set is
    exactly the chain's final root."""
    if not remap.exists():
        return None
    ct = _closure_table(remap)
    if remap.path in _CLOSURE_FRESH and ct.exists():
        return ct.read()  # verified or written by this process already
    edges = remap.read()
    n_events = edges.count()
    if n_events == 0:
        return None
    if ct.exists():
        closure = ct.read()
        if closure.count() == n_events:
            _CLOSURE_FRESH.add(remap.path)
            return closure
    healed = (
        connected_components(edges, "old_root", "new_root")
        .withColumnRenamed("node", "root")
        # CC emits every node of the remap graph; keep only RETIRED roots so
        # the one-row-per-remap-row invariant (the freshness check) holds.
        .join(
            edges.select(F.col("old_root").alias("root")).distinct(), "root"
        )
    )
    ct.overwrite_versioned(healed)
    ct.vacuum(keep_last=2)  # 2: a lazy plan may still pin the prior version
    _CLOSURE_FRESH.add(remap.path)
    return ct.read()


def _resolve(nodes: DataFrame, members: ParquetTable, closure: DataFrame | None) -> DataFrame:
    """(node, res): each node's current component — its stored member root
    chased through the remap closure; unseen nodes resolve to themselves."""
    out = nodes
    if members.exists():
        base = members.read().select("node", "root")
        out = out.join(base, "node", "left")
    else:
        out = out.withColumn("root", F.lit(None).cast(dict(nodes.dtypes)["node"]))
    if closure is not None:
        out = out.join(
            F.broadcast(closure.withColumnRenamed("comp", "_final")), "root", "left"
        ).select("node", F.coalesce("_final", "root").alias("root"))
    return out.select("node", F.coalesce("root", "node").alias("res"))


def update_components_index(
    edge_batch: DataFrame,
    members: ParquetTable,
    remap: ParquetTable,
    src: str = "a_id",
    dst: str = "b_id",
    epoch: int | None = None,
) -> None:
    """Merge one batch of undirected near-dup edges into the component index.

    Pointer-jumping runs only on the CONTRACTED graph (touched components'
    roots + the batch's new nodes), so per-trigger cost is O(batch edges ×
    log touched-diameter) regardless of corpus size. Appends are key-guarded
    (node / old_root), so replayed epochs insert nothing and the resolved
    mapping equals the batch operator over every edge ever delivered
    (pinned by tests/test_streaming_components.py)."""
    e = (
        edge_batch.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .filter(F.col("s") != F.col("t"))
        # batch-sized; pin it — the caller's edge plan may be expensive
        # (e.g. a MinHash index probe) and feeds the node scan, both
        # contracted-join sides, and every CC iteration below.
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("t").alias("node")))
        .distinct()  # no checkpoint: e is pinned, and res (below) is — the
        # node scan runs once inside the res evaluation
    )
    closure = _remap_closure(remap)
    res = _resolve(nodes, members, closure).localCheckpoint(eager=True)

    contracted = (
        e.join(res.withColumnRenamed("node", "s"), "s")
        .withColumnRenamed("res", "rs")
        .join(res.withColumnRenamed("node", "t"), "t")
        .withColumnRenamed("res", "rt")
        .filter(F.col("rs") != F.col("rt"))
        .select("rs", "rt")
    )
    # frontier-only pointer jumping: one supernode per touched component
    mapping = connected_components(contracted, "rs", "rt").localCheckpoint(
        eager=True  # feeds the remap append AND the member-root lookup
    )

    merge_events = mapping.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("old_root"), F.col("comp").alias("new_root")
    )
    inserted = remap.insert_new(stamp(merge_events, epoch), keys=["old_root"])
    if inserted:
        # Fold this batch's merges into the maintained closure: previously
        # retired roots whose final label just changed are remapped through
        # `mapping` (their stored comp was a CURRENT root, so one broadcast
        # join suffices), and the batch's merge events — roots retired for
        # the first time, so disjoint from the existing keys — append as
        # (root, comp) rows. The closure is merge-event-sized; rewriting it
        # per trigger costs a tiny broadcast join, replacing the per-trigger
        # CC over all remap rows. A replayed epoch contracts to self-loops,
        # inserts nothing, and skips the rewrite — closure stays fixed.
        ct = _closure_table(remap)
        step = F.broadcast(
            mapping.select(
                F.col("node").alias("comp"), F.col("comp").alias("_new")
            )
        )
        events = merge_events.select(
            F.col("old_root").alias("root"), F.col("new_root").alias("comp")
        )
        if closure is not None:
            folded = closure.join(step, "comp", "left").select(
                "root", F.coalesce("_new", "comp").alias("comp")
            )
            events = folded.unionByName(events)
        ct.overwrite_versioned(events)
        ct.vacuum(keep_last=2)
        _CLOSURE_FRESH.add(remap.path)

    new_members = res.join(
        mapping.withColumnRenamed("node", "res"), "res", "left"
    ).select("node", F.coalesce("comp", "res").alias("root"))
    members.insert_new(stamp(new_members, epoch), keys=["node"])


def current_components(members: ParquetTable, remap: ParquetTable) -> DataFrame:
    """The live (node, comp) mapping — member roots resolved through the
    remap closure. Equals ``connected_components`` over every edge ever
    merged (min-node-id labels)."""
    return _resolve_members(members.read(), remap)


def _resolve_members(members: DataFrame, remap: ParquetTable) -> DataFrame:
    base = members.select("node", "root")
    closure = _remap_closure(remap)
    if closure is None:
        return base.select("node", F.col("root").alias("comp"))
    return base.join(
        F.broadcast(closure.withColumnRenamed("comp", "_final")), "root", "left"
    ).select("node", F.coalesce("_final", "root").alias("comp"))


def neardup_components_stream(
    docs: DataFrame,
    index: ParquetTable,
    members: ParquetTable,
    remap: ParquetTable,
    checkpoint_dir: str,
    min_jaccard: float = 0.7,
    trigger_seconds: int | None = None,
):
    """Incremental canonicalization pipeline: per micro-batch, probe the
    MinHash band index for the batch's near-dup candidate edges
    (``update_minhash_index`` — O(batch) probes) and fold the confident
    ones into the component index. After any prefix of the stream,
    ``current_components`` equals the batch ``dedup_clusters`` chain over
    the same documents — components never straddle a batch boundary
    unseen, which is what makes the downstream leakage-safe split
    incrementally maintainable."""
    from schwab_elt_etl_pipeline_spark.streaming.corpus import update_minhash_index
    from schwab_elt_etl_pipeline_spark.streaming.runner import start_foreach_batch

    def _sink(batch: DataFrame, epoch: int) -> None:
        cands = update_minhash_index(batch, index).filter(
            F.col("est_jaccard") >= min_jaccard
        )
        update_components_index(
            cands, members, remap, src="batch_id", dst="index_id", epoch=epoch
        )

    return start_foreach_batch(
        docs, _sink, checkpoint_dir, trigger_seconds, output_mode="append"
    )


def leakage_safe_assignments(
    docs: DataFrame,
    members: ParquetTable,
    remap: ParquetTable,
    id_col: str = "doc_id",
) -> DataFrame:
    """Incrementally-served train/valid/test split — the motivating use of
    the component index: the batch ``leakage_safe_split`` recomputes
    Jaccard pairs + components from scratch per run, while this probe reads
    the MAINTAINED mapping and applies the identical integer-hash draw
    (8/1/1 on the CLUSTER id, so near-duplicates can never straddle
    splits). Documents never seen by the index are their own singleton
    component, exactly like the batch query's left-join coalesce. Output
    contract matches the catalog query: (doc_id, component, bucket, split);
    incremental == batch is pinned by tests/test_streaming_components.py.
    """
    base = docs.select(F.col(id_col).alias("doc_id"))
    if members.exists():  # a never-built index means every doc is a singleton
        comp = current_components(members, remap)
        labeled = base.join(
            comp.withColumnRenamed("node", "doc_id"), "doc_id", "left"
        ).select("doc_id", F.coalesce("comp", F.col("doc_id")).alias("component"))
    else:
        labeled = base.select("doc_id", F.col("doc_id").alias("component"))
    bucket = (
        ((F.col("component") % 1000003) * 2654435761) % 999983 % 10
    ).cast("int")
    return labeled.select(
        "doc_id",
        "component",
        bucket.alias("bucket"),
        F.when(bucket <= 7, "train")
        .when(bucket == 8, "valid")
        .otherwise("test")
        .alias("split"),
    )


def compact_components(members: ParquetTable, remap: ParquetTable) -> None:
    """Fold the remap chains into members: rewrite members as base rows
    with fully resolved roots and truncate remap. Reads are bit-identical
    before and after (ARCHITECTURE.md, "Epoch-stamped state")."""
    consolidate(
        members,
        lambda rows: _resolve_members(rows, remap).withColumnRenamed("comp", "root"),
    )
    if remap.exists():
        remap.overwrite_versioned(remap.read().limit(0))
    ct = _closure_table(remap)
    if ct.exists():
        ct.overwrite_versioned(ct.read().limit(0))
    # next read must take the n_events == 0 path, not trust the empty table
    _CLOSURE_FRESH.discard(remap.path)
