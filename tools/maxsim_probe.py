"""Measure the two-stage MaxSim scan payload: int8 stage-1 codes vs the
full fixed-point slice units (the q_maxsim_rerank design choice).

The stage-1 claim is "the int8 codes are the only corpus-wide touch and
cost a fraction of the full-precision scan". This probe measures it as
STORED BYTES of the two staged structures (what a 100 TB serving tier
keeps hot), plus the stage-1 census row count (what actually crosses the
rank exchange — 3 BIGINTs per (q, cand) row at any dimension):

- su: (vec_id, s, u array<bigint>) — fixed-point unit slice values in
  [-FX, FX] (~21 bits of dynamic range per element).
- c8: (vec_id, s, c8 array<bigint>) — 127-level symmetric codes in
  [-127, 127] (8 bits of dynamic range; parquet bit-packs them).

Both are written with the same writer/codec so the ratio isolates the
representation. The exact-path recall identity is asserted on the side:
stage-1 top-M admits the same ids whether scored from the staged or the
in-memory codes.

Usage: python tools/maxsim_probe.py [sf_dir]
Prints one JSON line; paste the table row into docs/SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, "/root/repo")


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> None:
    from pyspark.sql import functions as F

    from duckdb_ner_spark.operators.round12 import maxsim_slice_units
    from duckdb_ner_spark.operators.round13 import MR_LEVELS, MR_M, MR_NQ
    from duckdb_ner_spark.plans.cachereg import scratch_path
    from duckdb_ner_spark.session import get_spark
    from duckdb_ner_spark.sources.catalog import load_tables

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("maxsim-probe")
    t = load_tables(spark, sf_dir)
    n_vec = t.embeddings.count()

    su = maxsim_slice_units(t.embeddings)
    su_path = scratch_path("probe_su", sf_dir)
    su.write.mode("overwrite").parquet(su_path)
    su = spark.read.parquet(su_path)

    c8 = su.select(
        "vec_id",
        "s",
        F.expr("array_max(transform(u, v -> abs(v)))").alias("mabs"),
        "u",
    ).select(
        "vec_id",
        "s",
        F.expr(
            f"transform(u, v -> CAST(FLOOR(CAST(v AS DOUBLE)"
            f" * (CASE WHEN mabs = 0 THEN 0.0D"
            f" ELSE CAST({MR_LEVELS} AS DOUBLE)"
            f" / CAST(mabs AS DOUBLE) END)"
            f" + 0.5) AS BIGINT))"
        ).alias("c8"),
    )
    c8_path = scratch_path("probe_c8", sf_dir)
    c8.write.mode("overwrite").parquet(c8_path)
    c8 = spark.read.parquet(c8_path)

    su_bytes = _tree_bytes(su_path)
    c8_bytes = _tree_bytes(c8_path)

    # stage-1 census: (q_id, cand, q8sim) — 3 BIGINTs per row at any dim
    q8q = F.broadcast(
        c8.filter(F.col("vec_id") < MR_NQ).select(
            F.col("vec_id").alias("q_id"),
            F.col("s").alias("qs"),
            F.col("c8").alias("qc8"),
        )
    )
    census = (
        c8.crossJoin(q8q)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "qs",
            F.col("vec_id").alias("cand"),
            F.aggregate(
                F.zip_with(F.col("c8"), F.col("qc8"), lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, v: a + v,
            ).alias("dot"),
        )
        .groupBy("q_id", "qs", "cand")
        .agg(F.max("dot").alias("best_dot"))
        .groupBy("q_id", "cand")
        .agg(F.sum("best_dot").cast("bigint").alias("q8sim"))
    )
    census_rows = census.count()
    shortlist_rows = MR_NQ * MR_M

    out = {
        "sf_dir": sf_dir,
        "n_vectors": n_vec,
        "su_bytes": su_bytes,
        "c8_bytes": c8_bytes,
        "su_bytes_per_vec": round(su_bytes / n_vec, 1),
        "c8_bytes_per_vec": round(c8_bytes / n_vec, 1),
        "stored_ratio": round(su_bytes / c8_bytes, 2),
        "stage1_census_rows": census_rows,
        "stage2_fetch_rows": shortlist_rows,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
