"""Column-shape operators: rename / project / row-filter / spot fixes
(ref: src/pudl/transform/classes.py, src/pudl/helpers.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F


def rename_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Strict rename — unknown source columns raise
    (ref: transform/classes.py:268-285).
    """
    unknown = set(mapping) - set(df.columns)
    if unknown:
        raise KeyError(f"rename_columns: unknown columns {sorted(unknown)}")
    return df.withColumnsRenamed(mapping)


def organize_cols(df: DataFrame, id_cols: list[str]) -> DataFrame:
    """Project id columns first, data columns alphabetical
    (ref: helpers.py:807).
    """
    data_cols = sorted(c for c in df.columns if c not in id_cols)
    return df.select(*id_cols, *data_cols)


def simplify_columns(df: DataFrame) -> DataFrame:
    """Header normalization: lower, strip, non-alnum -> _
    (ref: helpers.py:1201).
    """
    import re

    new = []
    for c in df.columns:
        s = re.sub(r"[^0-9a-z]+", "_", c.strip().lower()).strip("_")
        new.append(s or c)
    return df.toDF(*new)


def drop_records_with_null_in_column(df: DataFrame, col: str,
                                     max_drop_fraction: float = 1.0) -> DataFrame:
    """Filter null-keyed rows with a max-drop guard (ref: helpers.py:1648).

    The guard runs as one aggregate over the input; raises if too many
    rows would be dropped.
    """
    if max_drop_fraction < 1.0:
        stats = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.col(col)).alias("nonnull"),
        ).collect()[0]
        if stats["n"]:
            frac = (stats["n"] - stats["nonnull"]) / stats["n"]
            if frac > max_drop_fraction:
                raise ValueError(
                    f"would drop {frac:.1%} of rows (> {max_drop_fraction:.1%})"
                )
    return df.filter(F.col(col).isNotNull())


def drop_invalid_rows(df: DataFrame, required_valid_cols: list[str],
                      invalid_values: list) -> DataFrame:
    """Drop rows where ALL selected columns are in the invalid set or
    NULL (ref: transform/classes.py:835-899).
    """
    conds = [
        F.col(c).isin(invalid_values) | F.col(c).isNull()
        for c in required_valid_cols
    ]
    all_invalid = reduce(lambda a, b: a & b, conds)
    return df.filter(~all_invalid)


def spot_fix_values(df: DataFrame, idx_cols: list[str],
                    fix_cols: list[str], fixes: list[tuple],
                    expect_unique: bool = True) -> DataFrame:
    """Keyed point-updates from a literal fix table
    (ref: transform/classes.py:943-987). The fix table is tiny by
    construction -> broadcast left join + coalesce(fix, original).
    """
    if expect_unique:
        # The fix table is a literal Python list — validate it locally
        # instead of spending two Spark jobs (count + distinct) on a
        # handful of rows.
        keys = [tuple(fx[:len(idx_cols)]) for fx in fixes]
        if len(keys) != len(set(keys)):
            raise ValueError("spot_fix_values: duplicate keys in fix table")
    # df.sparkSession, not the per-thread active session: the lookup
    # returns None on a thread that never set one (an asset built on
    # a materialize pool thread).
    fix_df = df.sparkSession.createDataFrame(
        fixes, schema=idx_cols + [f"__fix_{c}" for c in fix_cols]
    )
    out = df.join(F.broadcast(fix_df), on=idx_cols, how="left")
    updates = {
        c: F.coalesce(F.col(f"__fix_{c}"), F.col(c)) for c in fix_cols
    }
    return out.withColumns(updates).drop(*[f"__fix_{c}" for c in fix_cols])


def convert_col_to_bool(df: DataFrame, col: str, true_values: list,
                        false_values: list) -> DataFrame:
    """Domain-mapped boolean with NULL for everything else
    (ref: helpers.py:1928,1976).
    """
    c = F.col(col)
    return df.withColumn(
        col,
        F.when(c.isin(true_values), F.lit(True))
        .when(c.isin(false_values), F.lit(False)),
    )
