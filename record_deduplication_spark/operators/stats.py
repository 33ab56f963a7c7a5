"""Cluster statistics, score banding, and merge finalization.

Reference analogs:
- C14 cluster stats (/root/reference/src/core/clustering/cluster_stats.py:18-175)
- R2 probability banding (/root/reference/src/core/reporting_engine.py:104-117)
- G2 group materialization / survivor choice
  (/root/reference/src/core/openai_deduplicator.py:174-218)

All single-pass aggregations (partial+final hash agg) — silhouette is
intentionally dropped (O(n^2), geometric; SURVEY §2.6 C14).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.localrel import local_rows_df


#: Regex of a noise cluster label: -1, also after a float promotion
#: ("-1.0": a pandas/parquet round-trip can turn densified long ids into
#: float64). NULL is noise too. The one noise rule shared by the SQL
#: predicates below and the Python kernels (`is_noise_label`).
NOISE_LABEL = r"^-1(\.0)?$"
_NOISE_RE = re.compile(NOISE_LABEL)


def is_noise_label(label) -> bool:
    """Python twin of `is_noise` for one label."""
    return label is None or _NOISE_RE.match(str(label)) is not None


def clustered(col: str = "cluster_id"):
    """Predicate: row belongs to a real cluster. Handles BOTH cluster-id
    conventions — densified long with -1 noise (reference C15 fillna,
    clustering_engine.py:527-529), also float-promoted to -1.0, and the
    engine-default string representative with NULL noise."""
    c = F.col(col)
    return c.isNotNull() & ~c.cast("string").rlike(NOISE_LABEL)


def is_noise(col: str = "cluster_id"):
    c = F.col(col)
    return c.isNull() | c.cast("string").rlike(NOISE_LABEL)


def cluster_stats(clusters: DataFrame) -> dict:
    """n_clusters, noise count/ratio, size histogram + percentiles."""
    n_total = clusters.count()
    sizes = (clusters.where(clustered())
             .groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size")))
    agg = sizes.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("size").alias("clustered"),
        F.max("size").alias("max_size"),
        F.expr("percentile(size, array(0.25, 0.5, 0.75, 0.95))").alias("pcts"),
        F.sum(F.when(F.col("size") <= 3, 1).otherwise(0)).alias("tiny"),
        F.sum(F.when((F.col("size") > 3) & (F.col("size") <= 10), 1).otherwise(0)).alias("small"),
        F.sum(F.when((F.col("size") > 10) & (F.col("size") <= 100), 1).otherwise(0)).alias("medium"),
        F.sum(F.when(F.col("size") > 100, 1).otherwise(0)).alias("large"),
    ).collect()[0]
    n_clustered = int(agg["clustered"] or 0)
    return {
        "n_records": n_total,
        "n_clusters": int(agg["n_clusters"] or 0),
        "n_noise": n_total - n_clustered,
        "noise_ratio": (n_total - n_clustered) / n_total if n_total else 0.0,
        "coverage_ratio": n_clustered / n_total if n_total else 0.0,
        "max_cluster_size": int(agg["max_size"] or 0),
        "size_percentiles": [float(x) for x in (agg["pcts"] or [])],
        "size_histogram": {k: int(agg[k] or 0)
                           for k in ("tiny", "small", "medium", "large")},
    }


def score_bands(edges: DataFrame,
                high: float = 0.9, low: float = 0.6) -> DataFrame:
    """R2-analog: band verified edges by score; per-band counts."""
    banded = edges.withColumn(
        "band",
        F.when(F.col("score") >= high, "high")
         .when(F.col("score") >= low, "manual_review")
         .otherwise("low"))
    return (banded.groupBy("verdict", "band")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .orderBy("verdict", "band"))


def materialize_groups(clusters: DataFrame) -> DataFrame:
    """G2-analog: per-cluster member list + canonical survivor
    (min clip_id — the reference's min-id root rule)."""
    return (clusters.where(clustered())
            .groupBy("cluster_id")
            .agg(F.sort_array(F.collect_list("clip_id")).alias("members"),
                 F.min("clip_id").alias("survivor"),
                 F.count(F.lit(1)).alias("size")))


def unique_records(all_ids: DataFrame, clusters: DataFrame) -> DataFrame:
    """Dedup finalization: keep noise rows + one survivor per cluster,
    with is_merged / merged_from lineage columns (G2)."""
    groups = materialize_groups(clusters)
    survivors = groups.select(F.col("survivor").alias("clip_id"),
                              F.lit(True).alias("is_merged"),
                              F.array_remove("members", F.col("survivor")
                                             .cast("string")).alias("merged_from"))
    noise = (clusters.where(is_noise())
             .select("clip_id", F.lit(False).alias("is_merged"),
                     F.array().cast("array<string>").alias("merged_from")))
    return noise.unionByName(survivors)


def validate_connectivity(edges: DataFrame, clusters: DataFrame) -> int:
    """C12-analog: number of dup edges whose endpoints landed in
    different clusters — MUST be 0 for connected-components output
    (the reference needs a sampled repair loop for this,
    /root/reference/src/core/clustering/connectivity_manager.py:18-173;
    CC makes it a free invariant, kept as a validation metric)."""
    assign = clusters.select("clip_id", "cluster_id")
    j = (edges.select("id_1", "id_2")
         .join(assign.select(F.col("clip_id").alias("id_1"),
                             F.col("cluster_id").alias("c1")), "id_1")
         .join(assign.select(F.col("clip_id").alias("id_2"),
                             F.col("cluster_id").alias("c2")), "id_2"))
    return j.where(F.col("c1") != F.col("c2")).count()


def map_distinct(df: DataFrame, col: str, fn, out_col: str | None = None) -> DataFrame:
    """P9-pattern: apply an arbitrary (driver-side, possibly external)
    function per DISTINCT value of a column, then broadcast the mapping
    back — the reference calls an external API once per unique company
    name this way (/root/reference/src/core/preprocess_engine.py:158-167,
    /root/reference/src/core/openai_translator.py:20-77). Cost is
    O(distinct values) driver calls, never O(rows)."""
    out_col = out_col or f"{col}_mapped"
    spark = df.sparkSession
    # NULL never equi-joins back, so don't pay fn(None) (which would
    # TypeError for the typical str-assuming external call anyway)
    vals = [r[0] for r in df.select(col).distinct().collect()
            if r[0] is not None]
    mapping = [(v, fn(v)) for v in vals]
    mdf = local_rows_df(spark, mapping, f"{col} string, {out_col} string")
    return df.join(F.broadcast(mdf), col, "left")


def calibrate_threshold(scored_pairs: DataFrame, score_col: str = "jaccard",
                        quantile: float = 0.6, sample_frac: float = 0.1,
                        floor: float | None = None, ceil: float | None = None,
                        seed: int = 42, exact: bool = False) -> float:
    """C5-analog: data-driven similarity threshold from sampled pair-
    score quantiles (the reference derives adaptive DBSCAN eps from
    k-NN distance percentiles on a sample —
    /root/reference/src/core/clustering/adaptive_eps.py:19-179; our
    geometry-free analog calibrates the verify threshold the same way:
    sample -> percentile_approx -> clamp). exact=True switches to the
    exact interpolating percentile (one shuffle of the sampled scores;
    use on bounded samples when the value must be engine-portable —
    Spark `percentile` and DuckDB `quantile_cont` interpolate
    identically, percentile_approx has no cross-engine twin)."""
    sampled = scored_pairs.where(F.col(score_col).isNotNull())
    if sample_frac < 1.0:
        sampled = sampled.sample(fraction=sample_frac, seed=seed)
    agg = (F.percentile(score_col, F.lit(quantile)) if exact
           else F.percentile_approx(score_col, quantile))
    row = sampled.agg(agg.alias("q")).collect()[0]
    t = float(row.q) if row.q is not None else (floor or 0.0)
    if floor is not None:
        t = max(t, floor)
    if ceil is not None:
        t = min(t, ceil)
    return t


def expand_pairs(pairs: DataFrame, records: DataFrame,
                 id_col: str = "clip_id",
                 context_cols: tuple[str, ...] = ("transcript",)) -> DataFrame:
    """R1-analog pair detail expansion: attach both records' context
    columns with _1/_2 suffixes (two hash joins; the reference does a
    positional pandas concat —
    /root/reference/src/core/reporting_engine.py:92-101)."""
    def side(n: int) -> DataFrame:
        cols = [F.col(id_col).alias(f"id_{n}")]
        cols += [F.col(c).alias(f"{c}_{n}") for c in context_cols]
        return records.select(*cols)
    return pairs.join(side(1), "id_1").join(side(2), "id_2")


_YJ_EPS = 1e-9


def yeo_johnson_col(col: str, lam: float):
    """C3: the Yeo-Johnson transform as a native column expression
    (whole-stage codegen; reference uses sklearn PowerTransformer,
    /root/reference/src/core/clustering_engine.py:323-346). Piecewise
    closed form — increasing in x, psi(0)=0, lam=1 is identity."""
    x = F.col(col).cast("double")
    if abs(lam) < _YJ_EPS:
        pos = F.log1p(x)
    else:
        pos = (F.pow(x + 1.0, F.lit(lam)) - 1.0) / lam
    if abs(lam - 2.0) < _YJ_EPS:
        neg = -F.log1p(-x)
    else:
        neg = -(F.pow(1.0 - x, F.lit(2.0 - lam)) - 1.0) / (2.0 - lam)
    return F.when(x >= 0, pos).otherwise(neg)


def yeo_johnson(df: DataFrame, cols: list[str], standardize: bool = True,
                sample_frac: float = 1.0, max_sample_rows: int = 1_000_000,
                seed: int = 42) -> tuple[DataFrame, dict[str, float]]:
    """C3 enhanced scaling: per-column MLE lambda fit on a bounded
    driver sample, then transform + standardize applied as native
    expressions in ONE projection (no UDF, no extra shuffle — the
    mean/std pass is a single partial+final agg).

    Returns (transformed df with the same column names, {col: lambda}).
    The lambda fit is the only driver-side step, bounded by
    max_sample_rows exactly like the reference's single-node
    PowerTransformer.fit; at 100 TB the fit cost is constant while the
    apply scales with the scan."""
    from ..functions.scaling import fit_lambda

    samp = df.select(*cols)
    if sample_frac < 1.0:
        samp = samp.sample(fraction=sample_frac, seed=seed)
    pdf = samp.limit(max_sample_rows).toPandas()
    # empty / all-null sample: lambda=1 is the identity transform —
    # pass the column through instead of crashing the fit
    lams = {}
    for c in cols:
        x = pdf[c].dropna().to_numpy(dtype="float64")
        lams[c] = fit_lambda(x) if x.size else 1.0
    out = df.select(*[c for c in df.columns if c not in cols],
                    *[yeo_johnson_col(c, lams[c]).alias(c) for c in cols])
    if standardize:
        stats = out.agg(*[F.avg(c).alias(f"{c}__mu") for c in cols],
                        *[F.stddev_pop(c).alias(f"{c}__sd") for c in cols]
                        ).first()
        # avg/stddev over zero (non-null) rows is NULL -> standardize
        # as identity (mu 0, sd 1) rather than float(None)
        out = out.select(
            *[c for c in out.columns if c not in cols],
            *[((F.col(c) - float(stats[f"{c}__mu"] or 0.0))
               / (float(stats[f"{c}__sd"] or 1.0) or 1.0)).alias(c)
              for c in cols])
    return out, lams


def cluster_agreement(ref: DataFrame, test: DataFrame,
                      id_col: str = "clip_id",
                      cluster_col: str = "cluster_id") -> DataFrame:
    """Pair-level agreement between two cluster assignments — drift
    monitoring between pipeline versions / daily runs, and the
    distributed form of oracle.pair_recall.

    Never materializes co-membership pairs (quadratic in cluster
    size). The pair-counting contingency identity reduces everything
    to counts: pairs(X) = sum_c C(n_c, 2) from X's own group sizes,
    and pairs(ref AND test) = sum over the JOINT contingency table
    (one id-join + one groupBy) — O(n) rows shuffled total, hot
    clusters are just bigger counts, never bigger joins. Noise
    (cluster_id NULL, or the "-1"/"-1.0" label — see clustered())
    contributes no pairs on its side.

    Returns one row: (n_pairs_ref, n_pairs_test, n_pairs_both,
    precision, recall, f1) where precision/recall grade `test`
    against `ref`.
    """
    # exact integer C(n,2): decimal(38,0) internally — long*long
    # overflows at n > ~3.04e9 members and `/ 2` through double loses
    # low bits past n ≈ 9.5e7; sums stay exact to 38 digits and the
    # final bigint cast is exact up to 9.2e18 total pairs
    c2 = lambda c: (F.col(c).cast("decimal(38,0)") *  # noqa: E731
                    (F.col(c).cast("decimal(38,0)") - 1) / 2)

    def side(df: DataFrame, tag: str) -> DataFrame:
        # clustered() handles BOTH cluster-id conventions; a numeric
        # `>= 0` here would CAST_INVALID_INPUT under ANSI mode on the
        # engine-default STRING representative ids (silently NULL-drop
        # every row with ANSI off — precision/recall would read 0)
        return (df.where(clustered(cluster_col))
                .select(F.col(id_col).alias("_id"),
                        F.col(cluster_col).alias(f"c_{tag}")))

    a, b = side(ref, "ref"), side(test, "test")

    def n_pairs(df: DataFrame, cols: list) -> DataFrame:
        return (df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))
                .agg(F.coalesce(F.sum(c2("n")), F.lit(0))
                     .cast("bigint").alias("p")))

    pa = n_pairs(a, ["c_ref"]).withColumnRenamed("p", "n_pairs_ref")
    pb = n_pairs(b, ["c_test"]).withColumnRenamed("p", "n_pairs_test")
    pj = (n_pairs(a.join(b, "_id"), ["c_ref", "c_test"])
          .withColumnRenamed("p", "n_pairs_both"))
    return (pa.crossJoin(pb).crossJoin(pj)
            .select("n_pairs_ref", "n_pairs_test", "n_pairs_both",
                    F.round(F.col("n_pairs_both") /
                            F.greatest("n_pairs_test", F.lit(1)), 6)
                    .alias("precision"),
                    F.round(F.col("n_pairs_both") /
                            F.greatest("n_pairs_ref", F.lit(1)), 6)
                    .alias("recall"))
            .withColumn("f1", F.round(
                2 * F.col("precision") * F.col("recall") /
                F.greatest(F.col("precision") + F.col("recall"),
                           F.lit(1e-12)), 6)))
