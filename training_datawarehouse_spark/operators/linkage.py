"""Record linkage / entity resolution: blocked fuzzy matching.

The dimension-side twin of the document near-dup family: match dirty
entity names (typos, drops) against a clean directory. Reference
scope: the reference warehouse matches entities by exact string keys
only (`populate_from_json.py` table/equipment names); fuzzy linkage is
charter-extension surface every real warehouse ingest needs.

Method (the standard blocking + edit-distance shape, e.g.
Fellegi-Sunter-style candidate generation):

1. BLOCK both sides on a cheap deterministic key (the last 3
   characters of the normalized name) — the quadratic pair space
   collapses to in-block pairs, exactly the LSH-bucket argument from
   the dedup family;
2. score in-block pairs with ``levenshtein`` (JVM codegen'd, and
   identically defined in DuckDB — unit-cost ins/del/sub — so the
   whole operator is oracle-checkable);
3. resolve each dirty record to its best candidate by (distance, id)
   — deterministic tie-break.

Scale shape (100 TB dims): one equi-shuffle on the block key, in-block
pair expansion bounded by block size (hot blocks are the same hazard
as hot LSH buckets), one min_by aggregation. Nothing is all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_name(name: Column) -> Column:
    """Case-fold and strip non-alphanumerics — the minimal canonical
    form both engines reproduce (lower + regexp_replace)."""
    return F.regexp_replace(F.lower(name), "[^a-z0-9]", "")


def blocked_fuzzy_pairs(
    dirty: DataFrame,
    clean: DataFrame,
    dirty_id: str,
    clean_id: str,
    dirty_name: str,
    clean_name: str,
    max_dist: int = 2,
) -> DataFrame:
    """(dirty_id, clean_id, dist) for every in-block pair within
    ``max_dist`` edits of each other (normalized names). The block key
    is the last 3 characters of the NORMALIZED name."""
    block = F.substring(F.col("__nm"), -3, 3)
    d = dirty.select(
        F.col(dirty_id).alias("__di"),
        normalize_name(F.col(dirty_name)).alias("__nm"),
    ).select("__di", F.col("__nm").alias("__dn"), block.alias("__blk"))
    c = clean.select(
        F.col(clean_id).alias("__ci"),
        normalize_name(F.col(clean_name)).alias("__nm"),
    ).select("__ci", F.col("__nm").alias("__cn"), block.alias("__blk"))
    return (
        d.join(c, "__blk")
        .select(
            F.col("__di").alias(dirty_id),
            F.col("__ci").alias(clean_id),
            F.levenshtein("__dn", "__cn").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def resolve_best_match(
    pairs: DataFrame, dirty_id: str, clean_id: str
) -> DataFrame:
    """One row per dirty id: the candidate with the smallest
    (dist, clean_id) — a deterministic argmin via ``min_by`` over a
    struct (map-side combinable, no window sort)."""
    return (
        pairs.groupBy(dirty_id)
        .agg(
            F.min_by(
                F.struct(F.col(clean_id), F.col("dist")),
                F.struct(F.col("dist"), F.col(clean_id)),
            ).alias("__best")
        )
        .select(
            dirty_id,
            F.col(f"__best.{clean_id}").alias(clean_id),
            F.col("__best.dist").alias("dist"),
        )
    )
