"""Incremental near-dup dedup against a persisted, bucketed LSH band store.

Production ingest deduplicates *deltas* against a standing corpus; a full
recompute per batch at 100 TB is the anti-pattern (VERDICT r5 task #1). The
standing state is two disk tables, both tiny relative to the documents:

* **band store** — ``(id, band, sig)``, one row per (document, LSH band),
  written **bucketed + sorted by (band, sig)** so the incremental probe
  join is a sort-merge join with NO Exchange and NO Sort on the corpus
  side: only the delta (new batch) shuffles, to the store's bucket count.
  At 100 TB this is the difference between re-shuffling the corpus per
  batch and shuffling megabytes.
* **cluster map** — ``(id, cluster_id)``, the standing assignment where
  ``cluster_id`` is the min doc id of each near-dup component.

Per batch, :func:`lsh_dedup_incremental`:

1. computes the new batch's band table (delta-sized),
2. probes it against the band store → (new doc, old doc) candidate pairs,
3. **contracts** old docs to their cluster labels via the cluster map —
   correctness hinges on the label being the component *min*: contracting
   an old component to its min-id representative preserves both the
   component structure (old-old edges cannot change when documents are
   added — LSH band equality is pairwise) and the min label (the min over
   {old cluster labels, new ids} in a merged component IS the min doc id
   of the merged component, because each old label is already its
   cluster's min),
4. runs connected components over the contracted edge list (delta-sized
   plus touched clusters — never corpus-sized), and
5. emits the new docs' assignments, a ``remap`` of old cluster labels that
   merged, and the delta band rows to append to the store.

``incremental ≡ full recompute`` is the contract: applying the remap to
the standing cluster map and unioning the new assignments equals
``cluster_assign`` re-run over old ∪ new from scratch
(tests/test_dedup_similarity.py::TestIncrementalDedup, and the
``dedup_incremental`` oracle query whose DuckDB twin IS the full
recompute). The reference repo has no dedup pipeline; this is a
beyond-reference training-data operator (SURVEY §2 extension set).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from maplibre_tile_spec_spark.operators import dedup
from maplibre_tile_spec_spark.session import scoped_materialize


def ensure_store_table(spark, suffix: str, location: str = "/tmp/mlt_band_stores") -> str:
    """Create (if needed) the catalog database holding band-store tables at
    an explicit filesystem location and return a qualified table name for
    ``suffix`` (sanitized). In production this is the lakehouse catalog; in
    the sandbox it is a datasource-table database under /tmp.

    **Single-driver assumption**: the leftover-cleanup below exists because
    the sandbox's in-memory catalog forgets tables across sessions while
    their files persist; it assumes one driver owns ``location`` at a time.
    Two concurrent drivers bootstrapping the same suffix would race — point
    them at distinct locations (or a real shared catalog, where this
    cleanup never fires because the table entry survives)."""
    import os
    import re
    import shutil

    spark.sql(f"CREATE DATABASE IF NOT EXISTS mlt_stores LOCATION '{location}'")
    name = "band_store_" + re.sub(r"[^A-Za-z0-9_]", "_", suffix)
    table = f"mlt_stores.{name}"
    # the in-memory catalog is per-session but the table files persist: a
    # fresh session can't overwrite a location it has no table entry for —
    # drop any leftover state so mode="overwrite" always works. Refuse to
    # delete anything that does not look like a Spark table directory
    # (guards a mistyped ``location`` from silently erasing foreign data).
    if not spark.catalog.tableExists(table):
        leftover = os.path.join(location, name)
        if os.path.isdir(leftover):
            foreign = [
                f
                for f in os.listdir(leftover)
                if not (f.startswith("part-") or f.startswith("_") or f.startswith("."))
            ]
            if foreign:
                raise ValueError(
                    f"refusing to clear leftover store dir {leftover}: "
                    f"non-table entries present ({foreign[:3]}); move them or "
                    "choose a different location/suffix"
                )
            shutil.rmtree(leftover, ignore_errors=True)
    return table


def minhash_band_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = dedup.DEFAULT_N_HASHES,
    band_size: int = dedup.DEFAULT_BAND_SIZE,
    shingle_size: int = dedup.DEFAULT_SHINGLE,
) -> DataFrame:
    """Exploded LSH band table ``(id long, band int, sig string)`` — the
    band-store row shape. Same signature family and band hashing as
    :func:`dedup.lsh_candidate_pairs`, so stored rows are bit-comparable
    with freshly computed ones."""
    n_bands = n_hashes // band_size
    sigs = dedup.minhash_signatures(docs, text_col, id_col, n_hashes, shingle_size)
    return sigs.select(
        F.col("id").cast("long").alias("id"),
        F.posexplode(dedup.band_sig_expr(n_bands, band_size)).alias("band", "sig"),
    ).select("id", "band", "sig")


def write_band_store(
    bands: DataFrame,
    table: str,
    n_buckets: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a band table **bucketed and sorted by (band, sig)**.

    Bucketing is the store's load-bearing property: the per-batch probe
    join reads the store with its layout as the join distribution, so the
    corpus side has no Exchange (plan-pinned in
    ``TestIncrementalDedup::test_probe_join_store_side_no_exchange``).
    ``mode="append"`` adds each batch's delta bands (Spark appends extra
    files per bucket; the join stays Exchange-free, at the cost of a
    per-bucket merge sort). Appends inherit the EXISTING table's bucket
    count — Spark refuses mismatched bucketing, and the caller appending a
    delta should never have to re-state the layout chosen at bootstrap.

    The bootstrap default is two buckets per core of the cluster
    (``2 × defaultParallelism``): every bucket is one task of the store
    write and of each bucketed probe stage, so a count sized to another
    cluster either leaves cores idle or queues waves of tiny tasks."""
    spark = bands.sparkSession
    if mode == "append" and spark.catalog.tableExists(table):
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
            if r.col_name.strip() == "Num Buckets":
                n_buckets = int(r.data_type)
                break
    if n_buckets is None:
        n_buckets = 2 * spark.sparkContext.defaultParallelism
    # repartition to the bucket count ON the bucket columns before the write:
    # repartition's HashPartitioning and bucketBy's bucket-id assignment are
    # the same murmur3-pmod hash, so each write task holds exactly one
    # bucket's rows and emits ONE file per bucket. Without it every upstream
    # task writes a file per bucket it touches — tasks×buckets tiny files,
    # which dominated both the write commit and every later bucketed scan of
    # the store.
    (
        bands.repartition(n_buckets, "band", "sig")
        .write.mode(mode)
        .bucketBy(n_buckets, "band", "sig")
        .sortBy("band", "sig")
        .format("parquet")
        .saveAsTable(table)
    )


class IncrementalDedup(NamedTuple):
    """Result of one incremental batch.

    * ``new_assign`` — ``(id, cluster_id)`` for every new-batch document
      (singletons included).
    * ``remap`` — ``(old_cluster_id, new_cluster_id)``: standing clusters
      whose label changed because a new document bridged them to a
      smaller-id component. Delta-sized (only touched clusters) —
      broadcast it when applying.
    * ``new_bands`` — the batch's ``(id, band, sig)`` rows, ready for
      ``write_band_store(..., mode="append")``. Persisted; the caller may
      ``unpersist()`` after appending.
    """

    new_assign: DataFrame
    remap: DataFrame
    new_bands: DataFrame


def lsh_dedup_incremental(
    new_docs: DataFrame,
    band_store: DataFrame,
    cluster_map: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = dedup.DEFAULT_N_HASHES,
    band_size: int = dedup.DEFAULT_BAND_SIZE,
    shingle_size: int = dedup.DEFAULT_SHINGLE,
    max_iter: int = 30,
) -> IncrementalDedup:
    """Deduplicate a new batch against the standing corpus WITHOUT touching
    the old documents: the only corpus-side inputs are ``band_store``
    (``spark.table(...)`` over a :func:`write_band_store` table) and
    ``cluster_map`` ``(id, cluster_id)``.

    Scale shape: the probe join's store side is Exchange-free (bucketed
    layout); everything downstream of the probe — contracted edges,
    connected components, remap — is sized by the batch and the clusters
    it touches, never by the corpus."""
    new_bands = minhash_band_table(
        new_docs, text_col, id_col, n_hashes, band_size, shingle_size
    ).persist()
    store = band_store.select("band", "sig", F.col("id").alias("old_id"))
    # (new doc, old doc) candidates sharing >= 1 band — the store side keeps
    # its bucketed (band, sig) layout, only new_bands shuffles
    probe = (
        new_bands.join(store, ["band", "sig"])
        .select(F.col("id").alias("new_id"), "old_id")
        .distinct()
    )
    # contract old docs to their standing cluster labels (= component min id)
    cm = cluster_map.select(F.col("id").alias("m_id"), F.col("cluster_id").alias("old_cluster"))
    # persist: connected_components reads the probe edges once and the
    # touched-cluster set below reads them again
    no_edges = (
        probe.join(cm, probe["old_id"] == cm["m_id"])
        .select(F.col("new_id").alias("doc_a"), F.col("old_cluster").alias("doc_b"))
        .persist()
    )
    nn_edges = dedup.pairs_from_bands(new_bands)
    comp = dedup.connected_components(no_edges.unionByName(nn_edges), max_iter=max_iter)
    touched = no_edges.select(F.col("doc_b").alias("oc")).distinct()
    # standing labels whose component min changed — new smaller-id member
    # or a bridge to a smaller-labeled cluster
    remap = (
        comp.join(touched, comp["id"] == touched["oc"])
        .filter(F.col("comp") != F.col("id"))
        .select(F.col("id").alias("old_cluster_id"), F.col("comp").alias("new_cluster_id"))
    )
    new_ids = new_docs.select(F.col(id_col).cast("long").alias("id"))
    # old-cluster comp rows never match new ids (doc ids are unique across
    # the old/new split), so a plain left join + coalesce covers both
    # paired and singleton new docs
    new_assign = (
        new_ids.join(comp.withColumnRenamed("id", "_c_id"), new_ids["id"] == F.col("_c_id"), "left")
        .select("id", F.coalesce("comp", "id").alias("cluster_id"))
    )
    # materialize through the persisted probe edges, then release them;
    # comp is a driver-built or checkpointed frame, so nothing re-reads the
    # edges afterwards
    new_assign = scoped_materialize(new_assign)
    remap = scoped_materialize(remap, no_edges)
    return IncrementalDedup(new_assign=new_assign, remap=remap, new_bands=new_bands)


def apply_remap(cluster_map: DataFrame, remap: DataFrame) -> DataFrame:
    """Standing cluster map + a batch's ``remap`` → updated ``(id,
    cluster_id)``. The remap side is delta-sized (touched clusters only) and
    broadcast, so this is a map-side hash join over the assignment table —
    no shuffle of the corpus-sized map."""
    r = F.broadcast(remap.select("old_cluster_id", "new_cluster_id"))
    return (
        cluster_map.join(r, cluster_map["cluster_id"] == r["old_cluster_id"], "left")
        .select(
            cluster_map["id"],
            F.coalesce("new_cluster_id", "cluster_id").alias("cluster_id"),
        )
    )


def updated_assignment(
    cluster_map: DataFrame, result: IncrementalDedup
) -> DataFrame:
    """Full post-batch assignment over old ∪ new: the remapped standing map
    unioned with the batch assignments. Equals ``cluster_assign`` re-run
    from scratch over all documents (the incremental ≡ full contract)."""
    return apply_remap(cluster_map, result.remap).unionByName(
        result.new_assign.select("id", "cluster_id")
    )


def incremental_keep_canonical(
    new_docs: DataFrame,
    result: IncrementalDedup,
    canon: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Union semantics for the keep-one output: update a standing canonical
    table (one full row per cluster + ``cluster_id`` + ``n_members``) with a
    batch — without scanning old documents.

    The invariant that makes this corpus-scan-free: a cluster's label is its
    min member id, and its canonical row is the document WITH that id. After
    a merge the new label is the min over {merged old labels, new member
    ids}; if that min is an old label its full row already sits in ``canon``
    (it was that cluster's canonical), and if it is a new id the row is in
    the batch. Member counts add: merged count = Σ old counts + new members.
    """
    remap = F.broadcast(result.remap)
    # membership counts: old clusters contribute under their (possibly
    # remapped) label, new docs under their assigned label
    old_contrib = (
        canon.select(F.col("cluster_id").alias("ocid"), "n_members")
        .join(remap, F.col("ocid") == F.col("old_cluster_id"), "left")
        .select(F.coalesce("new_cluster_id", "ocid").alias("cluster_id"), "n_members")
    )
    new_contrib = result.new_assign.groupBy("cluster_id").agg(
        F.count("*").alias("n_members")
    )
    counts = (
        old_contrib.unionByName(new_contrib)
        .groupBy("cluster_id")
        .agg(F.sum("n_members").cast("long").alias("n_members"))
    )
    # canonical rows: old canonicals whose label survived, plus new docs
    # that ARE their own cluster label
    surviving_old = canon.drop("n_members").join(
        remap, canon["cluster_id"] == remap["old_cluster_id"], "left_anti"
    )
    new_canon_ids = result.new_assign.filter(F.col("cluster_id") == F.col("id")).select("id")
    cand_new = (
        new_docs.withColumn("_nid", F.col(id_col).cast("long"))
        .join(F.broadcast(new_canon_ids), F.col("_nid") == F.col("id"))
        .drop("id")
        .withColumn("cluster_id", F.col("_nid"))
        .drop("_nid")
    )
    rows = surviving_old.unionByName(cand_new.select(*surviving_old.columns))
    return rows.join(counts, "cluster_id")
