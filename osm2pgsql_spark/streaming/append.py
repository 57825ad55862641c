"""Append mode: incremental view maintenance over OSM diff batches.

Reference flow (/root/reference/src/osmdata.cpp:55-175,371-406 and
/root/reference/src/output-flex.cpp:1266-1282):
- a change file carries create/modify/delete per object;
  modify = delete + re-add
- after each entity phase, reverse-dependency queries find parent
  ways of changed nodes and parent relations of changed nodes/ways
  (skipping version-1 objects, which cannot have parents yet:
  src/osmdata.cpp:60-69)
- pending parents are reprocessed; output tables get
  delete-before-insert on the mapped ids.

Spark-first: one batch job per diff.
- apply_diff() folds a diff into an entity snapshot (anti-join the
  touched ids, union the new versions) — at scale this is a MERGE
  on a Delta/Iceberg table keyed by id; here it is the plain
  DataFrame algebra with identical semantics.
- affected_ids() computes the recompute sets with the semi-joins
  from operators.reverse_deps.
- The invariant (reference regression test update.feature): applying
  a diff then recomputing affected objects must equal a fresh full
  import of the post-diff state.  tests/test_append.py asserts it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm2pgsql_spark.operators.reverse_deps import (
    parent_relations_of_members,
    parent_ways_of_nodes,
)


def last_ops(
    diff: DataFrame, id_col: str = "id", order_col: str | None = None
) -> DataFrame:
    """One row per id: the LAST op in document order (the reference
    applies diff ops sequentially, src/osmdata.cpp:55-70), ordered by
    order_col (defaults to the `op_seq` column read_osc_xml emits),
    which is dropped.  Without any order column the diff is assumed
    single-op-per-id (osmium-simplified) and returned as-is."""
    if order_col is None and "op_seq" in diff.columns:
        order_col = "op_seq"
    if order_col is None:
        return diff
    w = Window.partitionBy(id_col).orderBy(F.desc(order_col))
    return (
        diff.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", order_col)
    )


def apply_diff(
    base: DataFrame,
    diff: DataFrame,
    id_col: str = "id",
    order_col: str | None = None,
) -> DataFrame:
    """Fold one diff batch into an entity snapshot.

    diff has the entity schema + an `op` column in
    {create, modify, delete}.  Semantics (src/osmdata.cpp:55-70):
    delete removes the object, modify replaces it (delete+add),
    create adds it.  Duplicate ids within one diff keep the LAST op in
    document order (last_ops), so create-then-modify yields one
    snapshot row and modify-then-delete stays deleted.
    """
    diff = last_ops(diff, id_col, order_col)
    touched = diff.select(F.col(id_col)).distinct()
    survivors = base.join(touched, id_col, "left_anti")
    additions = diff.where(F.col("op") != "delete").drop("op")
    return survivors.unionByName(additions)


@dataclass
class AffectedSets:
    """Recompute sets after a diff (pending_ways / pending_rels of the
    reference, src/osmdata.cpp:75-147)."""

    changed_nodes: DataFrame  # ALL node ids from the diff
    changed_ways: DataFrame  # ALL way ids from the diff
    changed_rels: DataFrame  # ALL relation ids from the diff
    pending_ways: DataFrame  # parents of changed nodes, minus directly-changed
    pending_rels: DataFrame  # parents of changed nodes/ways, minus changed


def affected_ids(
    node_diff: DataFrame | None,
    way_diff: DataFrame | None,
    rel_diff: DataFrame | None,
    ways: DataFrame,
    relations: DataFrame,
    spark=None,
) -> AffectedSets:
    """Compute dependency-propagation sets from post-diff snapshots.

    ways/relations are the *updated* snapshots (the reference also
    queries the updated middle).  changed_* contain EVERY diff id —
    a version-1 create still needs its own outputs computed and its
    new geometry expired.  The version-1 skip applies only to the
    PROPAGATION inputs: the reference propagates from node_changed()/
    way_changed() (modify/delete paths) but not from the add path,
    because a brand-new object cannot have pre-existing parents
    (src/osmdata.cpp:60-69) — conflating the two loses modify rows
    whose upstream metadata mislabels them version=1."""

    def ids_of(diff: DataFrame | None) -> DataFrame | None:
        if diff is None:
            return None
        return diff.select(F.col("id")).distinct()

    sess = spark or ways.sparkSession

    def or_empty(df: DataFrame | None) -> DataFrame:
        return df if df is not None else sess.createDataFrame([], "id bigint")

    changed_nodes = or_empty(ids_of(node_diff))
    changed_ways = or_empty(ids_of(way_diff))
    changed_rels = or_empty(ids_of(rel_diff))
    # propagation triggers: creates (version 1 AND op=create where the
    # op survives on the diff frame) have no parents to dirty
    def prop_ids(diff: DataFrame | None) -> DataFrame:
        if diff is None:
            return sess.createDataFrame([], "id bigint")
        d = diff
        if "version" in d.columns and "op" in d.columns:
            d = d.where(
                (F.col("op") != "create")
                | (F.coalesce(F.col("version"), F.lit(2)) > 1)
            )
        elif "version" in d.columns:
            d = d.where(F.coalesce(F.col("version"), F.lit(2)) > 1)
        return d.select(F.col("id")).distinct()

    prop_nodes = prop_ids(node_diff)

    way_refs = ways.select(F.col("id").alias("way_id"), F.explode("refs").alias("ref"))
    pending_ways = parent_ways_of_nodes(
        way_refs, prop_nodes.select(F.col("id").alias("node_id"))
    ).withColumnRenamed("way_id", "id")
    # pending minus directly-changed (idlist remove_ids_if_in,
    # src/osmdata.cpp:126-135)
    pending_ways = pending_ways.join(changed_ways, "id", "left_anti")

    rel_members = relations.select(
        F.col("id").alias("rel_id"),
        F.explode("members").alias("m"),
    ).select("rel_id", F.col("m.type").alias("m_type"), F.col("m.ref").alias("m_ref"))
    rels_from_nodes = parent_relations_of_members(
        rel_members, prop_nodes, member_type="n"
    )
    # ways trigger relations whether changed directly or as pending
    all_changed_ways = prop_ids(way_diff).unionByName(pending_ways).distinct()
    rels_from_ways = parent_relations_of_members(
        rel_members, all_changed_ways, member_type="w"
    )
    pending_rels = (
        rels_from_nodes.unionByName(rels_from_ways)
        .distinct()
        .withColumnRenamed("rel_id", "id")
        .join(changed_rels, "id", "left_anti")
    )

    return AffectedSets(
        changed_nodes=changed_nodes,
        changed_ways=changed_ways,
        changed_rels=changed_rels,
        pending_ways=pending_ways,
        pending_rels=pending_rels,
    )


def ways_to_recompute(sets: AffectedSets) -> DataFrame:
    """All way ids whose outputs must be rebuilt: directly changed +
    dependency-pending."""
    return sets.changed_ways.unionByName(sets.pending_ways).distinct()


def relations_to_recompute(sets: AffectedSets) -> DataFrame:
    return sets.changed_rels.unionByName(sets.pending_rels).distinct()
