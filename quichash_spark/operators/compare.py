"""Verify / compare / moved-detection joins — the reference's three join
operators re-expressed as Spark joins (SURVEY.md §2.3 J1-J3, §2.6 U1-U2).

The reference builds driver-memory HashMaps and walks them
(/root/reference/src/verify.rs:183-261, src/compare.rs:417-553); here each
becomes ONE distributed full-outer/anti join that Catalyst plans — no
driver-side state, so the same code path handles 10^12 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def verify_classify(expected: DataFrame, actual: DataFrame, key: str = "path",
                    hash_col: str = "hash") -> DataFrame:
    """Reference J1 (verify): full-outer join + per-row 4-way status.

    expected = the stored DB (path -> hash), actual = the recomputed state.
    Statuses: match / mismatch / missing (DB-only) / new (FS-only) —
    exactly the four report sections of src/verify.rs:37-107.
    """
    e = expected.select(F.col(key), F.col(hash_col).alias("expected_hash"))
    a = actual.select(F.col(key), F.col(hash_col).alias("actual_hash"))
    return e.join(a, key, "full_outer").select(
        key,
        "expected_hash",
        "actual_hash",
        F.when(F.col("expected_hash").isNull(), F.lit("new"))
        .when(F.col("actual_hash").isNull(), F.lit("missing"))
        .when(F.col("expected_hash") == F.col("actual_hash"), F.lit("match"))
        .otherwise(F.lit("mismatch"))
        .alias("status"),
    )


def compare_dbs(db1: DataFrame, db2: DataFrame, key: str = "path",
                hash_col: str = "hash") -> DataFrame:
    """Reference J2 (compare): unchanged / changed / removed / added
    (src/compare.rs:440-475).  The union-of-keys (U1) is subsumed by the
    full-outer join."""
    a = db1.select(F.col(key), F.col(hash_col).alias("hash1"))
    b = db2.select(F.col(key), F.col(hash_col).alias("hash2"))
    return a.join(b, key, "full_outer").select(
        key,
        "hash1",
        "hash2",
        F.when(F.col("hash1").isNull(), F.lit("added"))
        .when(F.col("hash2").isNull(), F.lit("removed"))
        .when(F.col("hash1") == F.col("hash2"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def moved_files(removed: DataFrame, added: DataFrame, key: str = "path",
                hash_col: str = "hash") -> DataFrame:
    """Reference J3 (moved detection): inner equi-join on hash with the
    1:1 positional zip within each hash group (src/compare.rs:501-518),
    reproduced exactly with row_number over (hash, path-order) on both
    sides — the reference builds each side's path list sorted by path
    (BTreeMap-backed iteration), then zips pairwise."""
    wr = Window.partitionBy(hash_col).orderBy(key)
    r = removed.select(hash_col, F.col(key).alias("old_path")).withColumn(
        "rn", F.row_number().over(Window.partitionBy(hash_col).orderBy("old_path"))
    )
    a = added.select(hash_col, F.col(key).alias("new_path")).withColumn(
        "rn", F.row_number().over(Window.partitionBy(hash_col).orderBy("new_path"))
    )
    _ = wr
    return r.join(a, [hash_col, "rn"]).select(hash_col, "old_path", "new_path")


def new_files(fs: DataFrame, db: DataFrame, key: str = "path") -> DataFrame:
    """Reference U2: anti-join — files on disk not present in the DB
    (src/verify.rs:249-253)."""
    return fs.join(db.select(key), key, "left_anti")


def analyze_summary(entries: DataFrame, hash_col: str = "hash",
                    size_col: str | None = None) -> DataFrame:
    """Reference A4 (analyze summary, src/analyze.rs:237-292): one-row
    aggregate — total entries, distinct hashes, duplicate entries/groups,
    and the reference's unique_hashes identity
    (unique = total - dup_files + dup_groups, src/analyze.rs:262)."""
    per_hash = entries.groupBy(hash_col).agg(F.count("*").alias("n"))
    aggs = [
        F.sum("n").cast("long").alias("total_files"),
        F.count("*").cast("long").alias("unique_hashes"),
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).cast("long").alias("dup_files"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).cast("long").alias("dup_groups"),
    ]
    return per_hash.agg(*aggs)
