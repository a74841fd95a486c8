"""Text analysis operators: token counting, quality scoring, deterministic
splits, corpus mixing and stratified sampling.

All hot paths are built-in Spark SQL expressions (JVM, whole-stage
codegen) rendered from the dialect templates in
``functions.textexprs`` — the DuckDB correctness oracles render from the
same templates, so engine and oracle are structurally identical.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textexprs import TextExprs
from ..session import local_df

_S = TextExprs("spark")


def with_token_counts(df: DataFrame, col: str = "text") -> DataFrame:
    e = TextExprs("spark", col)
    return df.withColumn("token_count", F.expr(e.token_count())).withColumn(
        "bpe_token_count", F.expr(e.bpe_ish_token_count())
    )


def with_quality(df: DataFrame, col: str = "text") -> DataFrame:
    e = TextExprs("spark", col)
    return (
        df.withColumn("punct_ratio", F.expr(e.punct_ratio()))
        .withColumn("stopword_ratio", F.expr(e.stopword_ratio()))
        .withColumn("mean_word_len", F.expr(e.mean_word_len()))
        .withColumn("quality_score", F.expr(e.quality_score()))
    )


def with_split(
    df: DataFrame, id_col: str = "doc_id", train: int = 90, val: int = 5
) -> DataFrame:
    """Deterministic train/val/test split column from an md5 bucket of the
    id — stable across runs, engines and partitionings (``rand()`` is
    none of those), so a 100 TB corpus resplits identically every run."""
    e = TextExprs("spark")
    return df.withColumn(
        "split", F.expr(e.split_label(e._f("str", x=id_col), train, val))
    )


def mix_corpora(
    sources,
    n_total: int,
    id_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Deterministic domain-mixture sampling: draw ``n_total`` documents
    from ``sources`` = [(name, df, weight), ...] in proportion to the
    weights — the corpus-mixing step of multi-domain training sets
    (Pile/DoReMi-style domain weights).

    Per-source draws use the md5-bucket order (stable across runs,
    engines, partitionings — never ``rand()``), so the same weights
    always produce the same mixture; each per-source take plans as a
    distributed TakeOrdered, never a global sort. Output: each source's
    rows (id and any shared columns) + a ``source`` column. Rounding
    remainders go to the heaviest sources (largest-remainder rule)."""
    if not sources:
        raise ValueError("mix_corpora needs at least one source")
    total_w = sum(w for _, _, w in sources)
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")
    exact = [(name, df, n_total * w / total_w) for name, df, w in sources]
    takes = {name: int(x) for name, _, x in exact}
    leftover = n_total - sum(takes.values())
    for name, _, x in sorted(exact, key=lambda t: -(t[2] - int(t[2]))):
        if leftover <= 0:
            break
        takes[name] += 1
        leftover -= 1
    parts = []
    for name, df, _ in sources:
        k = takes[name]
        if k <= 0:
            continue
        key = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
        parts.append(
            df.withColumn("__key", key)
            .orderBy("__key")
            .limit(k)
            .drop("__key")
            .withColumn("source", F.lit(name))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: Optional[int] = None,
    fractions: Optional[dict] = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT deterministic stratified sampling: the ``n`` smallest
    md5(id) rows of each stratum (``n_per_stratum`` for every stratum,
    or per-stratum via ``fractions`` — a {stratum: fraction} dict whose
    counts are fixed as ``ceil(fraction * stratum_size)``).

    Unlike ``DataFrame.sampleBy`` (Bernoulli — approximate counts,
    seed/partitioning-dependent membership), this is reproducible
    across engines and repartitionings, and the counts are exact. Plan:
    the ``n_per_stratum`` variant is ONE WindowGroupLimit shuffle (the
    literal rank ≤ n filter pushes into the shuffle as a group-limit —
    no full sort); the ``fractions`` variant ranks the full strata (its
    filter compares against a JOINED quota column, which the group-limit
    rewrite cannot push) plus one count aggregate and one tiny broadcast
    join."""
    from pyspark.sql.window import Window

    if (n_per_stratum is None) == (fractions is None):
        raise ValueError("exactly one of n_per_stratum / fractions required")
    ordered = df.withColumn("__ord", F.md5(F.col(id_col).cast("string")))
    w = Window.partitionBy(strata_col).orderBy("__ord", id_col)
    ranked = ordered.withColumn("__rk", F.row_number().over(w))
    if n_per_stratum is not None:
        out = ranked.where(F.col("__rk") <= int(n_per_stratum))
    else:
        spark = df.sparkSession
        sizes = df.groupBy(strata_col).agg(F.count("*").alias("__n"))
        from pyspark.sql.types import DoubleType, StructField, StructType

        strata_t = df.schema[strata_col].dataType  # match the source type
        fr = local_df(
            spark,
            [(k, float(v)) for k, v in fractions.items()],
            StructType(
                [
                    StructField(strata_col, strata_t),
                    StructField("__f", DoubleType()),
                ]
            ),
        )
        # round before ceil: 30 * 0.1 is 3.0000000000000004 in doubles and
        # a raw ceil would inflate the exact quota to 4 (review finding)
        quota = sizes.join(F.broadcast(fr), strata_col).withColumn(
            "__quota", F.ceil(F.round(F.col("__n") * F.col("__f"), 9))
        )
        out = ranked.join(
            F.broadcast(quota.select(strata_col, "__quota")), strata_col
        ).where(F.col("__rk") <= F.col("__quota"))
    return out.drop("__ord", "__rk", "__quota", "__n", "__f")
