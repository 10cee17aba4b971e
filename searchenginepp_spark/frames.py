"""Tiny driver-side row lists as Spark frames — query terms, lexicon
slices, stats rows, stop-word and heavy-term tables — shared by the build,
merge, query and driver-contract code."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_VALUES_MAX_ROWS = 10_000


def _local_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Single-partition DataFrame from a tiny driver-side row list.

    createDataFrame(list) parallelizes into defaultParallelism Python-
    evaluated slices — a 5-row query frame then schedules ~100 near-empty
    tasks on every job that touches it, and coalescing afterwards is worse
    (one task computing ~100 sequential Python partitions, measured ~12 s).
    parallelize(rows, 1) keeps it to ONE Python partition.

    When every column is BIGINT/STRING and no value is None, the frame is
    built as a SQL inline table (VALUES ...) instead: Catalyst plans a
    LocalTableScan with known row statistics, and a broadcast build over it
    materializes driver-side with ZERO scheduled jobs and ZERO Python-worker
    round-trips, where the parallelize frame pays one 1-task Python job per
    broadcast build (measured: a shard⋈qterms broadcast join 270 → 102 ms
    warm at 100k docs/local[32]).  Falls back to the parallelize frame for
    other types, None values, large row lists (inline-table parse is
    O(rows)), column names holding a backtick, or sessions with
    spark.sql.parser.escapedStringLiterals enabled (the literal escaping
    below targets the default lexer)."""
    if not rows:
        return spark.createDataFrame([], schema=schema)
    df = _values_df(spark, rows, schema)
    if df is not None:
        return df
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema=schema)


def _values_df(spark: SparkSession, rows: list, schema: str) -> DataFrame | None:
    """Inline-table (LocalRelation) build of a tiny long/string frame, or
    None when `rows`/`schema`/session conf make the SQL path unsafe."""
    cols = []
    for field in schema.split(","):
        parts = field.strip().split()
        if len(parts) != 2 or parts[1].lower() not in ("long", "bigint",
                                                       "string") \
                or "`" in parts[0]:
            return None
        cols.append((parts[0], parts[1].lower()))
    if len(rows) > _VALUES_MAX_ROWS:
        return None
    # Spark parses boolean confs case-insensitively ("TRUE" enables it)
    if spark.conf.get("spark.sql.parser.escapedStringLiterals",
                      "false").strip().lower() == "true":
        return None
    lits = []
    for row in rows:
        if len(row) != len(cols):
            return None
        vals = []
        for v, (_, typ) in zip(row, cols):
            if typ == "string":
                if not isinstance(v, str):
                    return None
                vals.append(
                    "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'")
            else:
                if not isinstance(v, int) or isinstance(v, bool) \
                        or not (-(2 ** 63) <= v < 2 ** 63):
                    return None
                vals.append(f"{v}L")
        lits.append("(" + ",".join(vals) + ")")
    names = ",".join(f"`{c}`" for c, _ in cols)
    return spark.sql(
        f"SELECT * FROM (VALUES {','.join(lits)}) AS t({names})")
