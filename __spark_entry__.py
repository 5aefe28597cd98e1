"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship sanitize pipeline on sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2/§2.11;
``oracle_sql()`` gives the DuckDB-equivalent SQL for all but ONE entry:
``sanitize_text`` (the tree engine itself — correctness pinned by the
112-pair golden replay instead, the correctly-non-SQL case). Everything
else — including the seeded-hyperplane LSH, IVF, iterative
connected-components, the multimodal decode rollup (md5-replayable fake
kernel through real mapInPandas plumbing), event-time windows,
sessionization, decontamination, sequence packing, stratified sampling,
and vocabulary stats — is fully oracled via generated SQL (literal
constants embedded / recursive CTEs): every registry entry except
``sanitize_text`` (len(REGISTRY) - 1 of len(REGISTRY); the exact counts
are asserted against this docstring in tests/test_survey_coverage.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full chunk -> salted sanitize -> merge pipeline over
    spans synthesized from the sf0.001 documents table."""
    from html_sanitizer_spark.queries import flagship

    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from html_sanitizer_spark.queries import spark_queries

    return spark_queries()


def oracle_sql() -> dict[str, str]:
    from html_sanitizer_spark.queries import oracle_queries

    return oracle_queries()


if __name__ == "__main__":
    # Self-check: smoke entry() and compare every oracled query against
    # DuckDB at sf0.01 (a local replica of the driver's verify).
    import duckdb

    from html_sanitizer_spark.pipeline.session import get_spark

    sf_dir = "/root/testdata/sf0.01"
    spark = get_spark("entry-selfcheck", parallelism=8)
    out = entry(spark)
    print("entry rows:", out.count(), "schema:", out.schema.simpleString())

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    oracles = oracle_sql()
    for name, fn in queries().items():
        sdf = fn(spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"{name}: rows-only, {len(sdf)} rows")
            continue
        ddf = con.execute(oracles[name]).df()
        status = "OK" if len(sdf) == len(ddf) else "ROWCOUNT MISMATCH"
        print(f"{name}: spark={len(sdf)} duckdb={len(ddf)} {status}")
    spark.stop()
