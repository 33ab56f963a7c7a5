"""Gate queries: paired Spark-SQL / DuckDB-SQL implementations.

Each entry implements one operator family from SURVEY.md §2 (or a
training-data-pipeline extra) over the driver's testdata tables, with
an ANSI-SQL twin the driver runs on DuckDB (CORRECTNESS_r{N}.json).
Determinism rules used throughout:

- hashing is md5-based: Spark `conv(substr(md5(CAST(x AS BINARY)),1,15),16,10)`
  equals DuckDB `('0x'||substr(md5(x),1,15))::BIGINT` (60-bit, verified);
- money sums go through integer cents (exact in both engines);
- ratios are single IEEE divisions of exact integers, rounded;
- every computed column is aliased identically on both sides.

The dialect differences are mechanical: split/string_split, 0/1-based
arrays, transform/list_transform, sequence/range, collect_list +
array_sort / string_agg(... ORDER BY).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.localrel import local_rows_df

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# MinHash-LSH config for the gated documents dedup (kept small so the
# SQL twin stays cheap; the clips engine uses DedupConfig instead)
_P = 16          # perms
_BANDS = 4       # 4 bands x 4 rows
_K = 3           # word-shingle size
_JT = 0.5        # verify threshold
_SUBL = 4        # shared-run length for the substring gate query


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


# --------------------------------------------------------------------------
# Spark-dialect SQL (value: (spark_sql, duckdb_sql))
# --------------------------------------------------------------------------

_H_SPARK = "CAST(conv(substr(md5(CAST({x} AS BINARY)),1,15),16,10) AS BIGINT)"
_H_DUCK = "(('0x' || substr(md5({x}),1,15))::BIGINT)"
# 40-bit base hash for the minhash permutation family: ONE md5 per
# shingle, then P affine permutations (h*(2p+3)+12289(p+1)) mod prime —
# identical integer arithmetic on both engines, no overflow
# (2^40 * 33 < 2^46), and 16x fewer md5 calls than hashing (s, p) pairs
_H40_SPARK = "CAST(conv(substr(md5(CAST({x} AS BINARY)),1,10),16,10) AS BIGINT)"
_H40_DUCK = "(('0x' || substr(md5({x}),1,10))::BIGINT)"
_MH_PRIME = 1099511627791


def _gram_spark(k: int) -> str:
    """k-token gram starting at 0-based offset i, Spark dialect
    (generated from k so changing _K/_SUBL cannot silently desync
    the term list from the bounds)."""
    terms = ", ".join(f"w[i+{j}]" if j else "w[i]" for j in range(k))
    return f"concat_ws(' ', {terms})"


def _gram_duck(k: int) -> str:
    """Same gram, DuckDB dialect (1-based arrays)."""
    return " || ' ' || ".join(f"w[i+{j + 1}]" for j in range(k))


def _shingle_cte_spark() -> str:
    return f"""
toks AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
shd AS (
  SELECT DISTINCT doc_id,
         {_gram_spark(_K)} AS s
  FROM toks
  LATERAL VIEW explode(sequence(0, size(w)-{_K})) t AS i
  WHERE size(w) >= {_K}
)"""


def _shingle_cte_duck() -> str:
    return f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
shd AS (
  SELECT DISTINCT doc_id,
         {_gram_duck(_K)} AS s
  FROM toks, unnest(range(len(w)-{_K}+1)) AS t(i)
  WHERE len(w) >= {_K}
)"""


PAIRED_SQL: dict[str, tuple[str, str]] = {}


def _q(name: str, spark_sql: str, duck_sql: str) -> None:
    PAIRED_SQL[name] = (spark_sql.strip(), duck_sql.strip())


# ---- dedup: exact + prefix-fingerprint groups (P7 + B1 in one gate) ----
# reference: /root/reference/src/core/preprocess_engine.py:192-211.
# Two legs under one `method` discriminator (merged r4 so all gates
# fit the driver's 50-entry correctness window; both legs keep their
# full r3 semantics and either going wrong moves the hash):
#  - text_sha: exact-duplicate groups over PLANTED dups (each doc takes
#    the text of canonical doc_id - doc_id % 7 — the raw testdata has
#    no exact text dups, which made the r1/r2 gate vacuous, VERDICT r2 #1);
#  - prefix_fp: 4-token prefix-fingerprint blocking groups (the
#    rolling-hash fingerprint family).
_q("exact_dup_groups",
   """
WITH planted AS (
  SELECT d.doc_id, c.text
  FROM documents d
  JOIN documents c ON c.doc_id = d.doc_id - (d.doc_id % 7)
  WHERE c.text IS NOT NULL
),
fp AS (
  SELECT doc_id, concat_ws(' ', slice(split(text,' '), 1, 4)) AS fp
  FROM documents
)
SELECT 'text_sha' AS method,
       md5(CAST(text AS BINARY)) AS group_key,
       count(*) AS n_dups,
       min(doc_id) AS canonical_id
FROM planted GROUP BY 2 HAVING count(*) > 1
UNION ALL
SELECT 'prefix_fp' AS method, fp AS group_key,
       count(*) AS n_dups, min(doc_id) AS canonical_id
FROM fp GROUP BY 2 HAVING count(*) > 1
ORDER BY method, group_key
""",
   """
WITH planted AS (
  SELECT d.doc_id, c.text
  FROM documents d
  JOIN documents c ON c.doc_id = d.doc_id - (d.doc_id % 7)
  WHERE c.text IS NOT NULL
),
fp AS (
  SELECT doc_id, array_to_string(string_split(text,' ')[1:4], ' ') AS fp
  FROM documents
)
SELECT 'text_sha' AS method,
       md5(text) AS group_key,
       count(*) AS n_dups,
       min(doc_id) AS canonical_id
FROM planted GROUP BY 2 HAVING count(*) > 1
UNION ALL
SELECT 'prefix_fp' AS method, fp AS group_key,
       count(*) AS n_dups, min(doc_id) AS canonical_id
FROM fp GROUP BY 2 HAVING count(*) > 1
ORDER BY method, group_key
""")

# ---- dedup: MinHash-LSH banded blocking + exact-Jaccard verify (B4+F4+M4) ----
# Spark side is expressed with higher-order array functions: MinHash
# signatures are computed per document INSIDE one projection
# (transform/array_min over the shingle array) instead of shuffling
# |shingles| x |perms| exploded rows through a groupBy — identical
# results (same md5-based hash, same band keys, same rounding) with
# the only shuffles being the band self-join and the final context
# joins. This is the plan shape the engine's own signature scan uses
# (operators/signatures.py fused pass); the DuckDB twin keeps the
# relational formulation.
_R = _P // _BANDS
_mh_spark = f"""
WITH toks AS (SELECT /*+ REPARTITION(32) */ doc_id, split(text, ' ') AS w
              FROM documents),
sharr AS (
  SELECT doc_id,
         array_distinct(transform(sequence(0, size(w)-{_K}),
                                  i -> {_gram_spark(_K)})) AS sh
  FROM toks WHERE size(w) >= {_K}
),
hv AS (
  -- base md5 hash hoisted OUT of the per-permutation transform: one
  -- md5 per shingle, then P cheap affine maps over the int array
  -- (nested form re-hashed every shingle P times: 16x the md5 work,
  -- measured 54 s -> ~8 s on the sf1 sweep)
  SELECT doc_id, sh,
         transform(sh, s -> {_H40_SPARK.format(x="s")}) AS hvals
  FROM sharr
),
mh AS (
  SELECT doc_id, sh,
         transform(sequence(0, {_P - 1}),
                   p -> array_min(transform(hvals,
                        h -> ((h * (2 * p + 3))
                              + 12289 * (p + 1)) % {_MH_PRIME}))) AS mhv
  FROM hv
),
bands AS (
  SELECT doc_id, b AS band,
         array_join(transform(slice(mhv, b * {_R} + 1, {_R}),
                              x -> CAST(x AS STRING)), ',') AS bkey
  FROM mh LATERAL VIEW explode(sequence(0, {_BANDS - 1})) t AS b
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
j AS (
  SELECT c.id_1, c.id_2,
         size(array_intersect(x.sh, y.sh)) AS i,
         size(x.sh) AS na, size(y.sh) AS nb
  FROM cand c
  JOIN sharr x ON x.doc_id = c.id_1
  JOIN sharr y ON y.doc_id = c.id_2
)
SELECT id_1, id_2, round(i / (na + nb - i), 6) AS jaccard
FROM j
WHERE i / (na + nb - i) >= {_JT}
ORDER BY id_1, id_2
"""
_mh_duck = f"""
WITH {_shingle_cte_duck()},
sh1 AS (
  SELECT doc_id, s, {_H40_DUCK.format(x="s")} AS h FROM shd
),
mh AS (
  SELECT doc_id, p,
         min(((h * (2 * p + 3)) + 12289 * (p + 1)) % {_MH_PRIME}) AS mhv
  FROM sh1 CROSS JOIN (SELECT unnest(range({_P})) AS p)
  GROUP BY doc_id, p
),
bands AS (
  SELECT doc_id, (p // {_P // _BANDS})::INT AS band,
         string_agg(mhv::VARCHAR, ',' ORDER BY p) AS bkey
  FROM mh GROUP BY doc_id, (p // {_P // _BANDS})::INT
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.id_1, c.id_2, count(*) AS i
  FROM cand c
  JOIN shd x ON x.doc_id = c.id_1
  JOIN shd y ON y.doc_id = c.id_2 AND y.s = x.s
  GROUP BY c.id_1, c.id_2
)
SELECT i.id_1, i.id_2,
       round(i.i / (sa.n + sb.n - i.i), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_1
JOIN sizes sb ON sb.doc_id = i.id_2
WHERE i.i / (sa.n + sb.n - i.i) >= {_JT}
ORDER BY id_1, id_2
"""
_q("minhash_lsh_pairs", _mh_spark, _mh_duck)

# ---- dedup: exact shingle-Jaccard set-similarity join (F4 exact path) ----
_sj_spark = f"""
WITH {_shingle_cte_spark()},
sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS id_1, y.doc_id AS id_2, count(*) AS i
  FROM shd x JOIN shd y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT i.id_1, i.id_2, round(i.i / (sa.n + sb.n - i.i), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_1
JOIN sizes sb ON sb.doc_id = i.id_2
WHERE i.i / (sa.n + sb.n - i.i) >= 0.35
ORDER BY id_1, id_2
"""
_q("shingle_jaccard_pairs", _sj_spark, _sj_spark.replace(
    _shingle_cte_spark().strip(), _shingle_cte_duck().strip()))

# ---- dedup: exact-substring (shared L-token-run) blocking ----
_ss_spark = f"""
WITH toks AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
gr AS (
  SELECT DISTINCT doc_id,
         {_gram_spark(_SUBL)} AS g
  FROM toks
  LATERAL VIEW explode(sequence(0, size(w)-{_SUBL})) t AS i
  WHERE size(w) >= {_SUBL}
)
SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS shared_runs
FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
ORDER BY id_1, id_2
"""
_ss_duck = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
gr AS (
  SELECT DISTINCT doc_id,
         {_gram_duck(_SUBL)} AS g
  FROM toks, unnest(range(len(w)-{_SUBL}+1)) AS t(i)
  WHERE len(w) >= {_SUBL}
)
SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS shared_runs
FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
ORDER BY id_1, id_2
"""
_q("substring_run_pairs", _ss_spark, _ss_duck)

# ---- dedup: SimHash fingerprints over word hashes (32-bit) ----
# Spark side: whole SimHash per document in ONE projection (nested
# higher-order aggregates over the distinct-word-hash array) — no
# |words| x 32-bit-position exploded shuffle. Identical bit votes and
# fingerprints; the DuckDB twin keeps the relational formulation.
_sh_spark = f"""
WITH wd AS (
  SELECT /*+ REPARTITION(32) */ doc_id, array_distinct(split(text, ' ')) AS ws
  FROM documents WHERE text IS NOT NULL
),
wh AS (
  SELECT doc_id, transform(ws, wrd -> {_H_SPARK.format(x="wrd")}) AS hs FROM wd
)
SELECT doc_id,
       aggregate(sequence(0, 31), CAST(0 AS BIGINT),
         (acc, b) -> acc + CASE WHEN
             aggregate(hs, 0, (a2, h) ->
                       a2 + CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
           THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END) AS simhash32
FROM wh ORDER BY doc_id
"""
_sh_duck = f"""
WITH wd AS (
  -- text IS NOT NULL on BOTH sides: Spark's aggregate over a NULL
  -- word array would emit (doc_id, 0) while unnest drops the doc
  SELECT DISTINCT doc_id, wrd FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS wrd
    FROM documents WHERE text IS NOT NULL)
),
wh AS (SELECT doc_id, {_H_DUCK.format(x="wrd")} AS h FROM wd),
bits AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM wh CROSS JOIN (SELECT unnest(range(32)) AS b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS BIGINT) AS simhash32
FROM bits GROUP BY doc_id ORDER BY doc_id
"""
_q("simhash_fingerprints", _sh_spark, _sh_duck)

# ---- text analysis: token counting + per-language stats ----
# NOTE r4: token_count_stats stays registered for bench.py's HEADLINE
# (cross-round timing comparability) but is BENCH-ONLY — its gate
# semantics were merged into doc_group_stats (below) so the full gate
# set fits the driver's 50-entry correctness window.
_q("token_count_stats",
   """
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(size(split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       count(DISTINCT source) AS n_sources
FROM documents GROUP BY lang ORDER BY lang
""",
   """
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       count(DISTINCT source) AS n_sources
FROM documents GROUP BY lang ORDER BY lang
""")

# ---- per-group profiling stats (P8/F6 null stats + token-count stats
#      by lang AND by source, one gate — merged r4 from
#      token_count_stats + groupagg_null_stats) ----
_dgs = """
SELECT 'lang' AS grp, lang AS grp_key,
       count(*) AS n_docs,
       CAST(sum({toklen}) AS BIGINT) AS total_tokens,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT source) AS n_sources,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_texts
FROM documents GROUP BY lang
UNION ALL
SELECT 'source' AS grp, source AS grp_key,
       count(*) AS n_docs,
       CAST(sum({toklen}) AS BIGINT) AS total_tokens,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT source) AS n_sources,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_texts
FROM documents GROUP BY source
ORDER BY grp, grp_key
"""
_q("doc_group_stats",
   _dgs.format(toklen="size(split(text, ' '))"),
   _dgs.format(toklen="len(string_split(text, ' '))"))

# ---- text analysis: quality scoring (length/diversity ratios) ----
_q("quality_scores",
   """
WITH t AS (
  SELECT doc_id, split(text, ' ') AS w FROM documents
),
m AS (
  SELECT doc_id, size(w) AS n_tokens,
         size(array_distinct(w)) AS n_distinct
  FROM t
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       round(n_distinct / n_tokens, 6) AS distinct_ratio
FROM m ORDER BY distinct_ratio DESC, doc_id LIMIT 50
""",
   """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
m AS (
  SELECT doc_id, len(w) AS n_tokens,
         len(list_distinct(w)) AS n_distinct
  FROM t
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       round(n_distinct / n_tokens, 6) AS distinct_ratio
FROM m ORDER BY distinct_ratio DESC, doc_id LIMIT 50
""")

# ---- text analysis: rolling polynomial document fingerprint ----
_q("doc_rolling_fingerprint",
   f"""
WITH wh AS (
  SELECT doc_id,
         transform(split(text,' '), x -> {_H_SPARK.format(x="x")} % 1000000007) AS hs
  FROM documents
)
SELECT doc_id,
       aggregate(hs, CAST(0 AS BIGINT), (acc, x) -> (acc * 131 + x) % 1000000007) AS fingerprint
FROM wh ORDER BY doc_id
""",
   f"""
WITH wh AS (
  SELECT doc_id,
         list_transform(string_split(text,' '), x -> {_H_DUCK.format(x="x")} % 1000000007) AS hs
  FROM documents
)
SELECT doc_id,
       CAST(list_reduce(list_prepend(0, hs), (acc, x) -> (acc * 131 + x) % 1000000007) AS BIGINT) AS fingerprint
FROM wh ORDER BY doc_id
""")

# ---- similarity search: brute-force cosine top-k (ANN baseline) ----
_ann_spark = """
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
s AS (
  SELECT qid, cid,
         aggregate(zip_with(qv, cv, (a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)),
                   CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) /
         (sqrt(aggregate(qv, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
          sqrt(aggregate(cv, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cos
  FROM q CROSS JOIN c WHERE qid <> cid
),
r AS (
  SELECT qid, cid, round(cos, 4) AS cosine,
         row_number() OVER (PARTITION BY qid ORDER BY round(cos, 4) DESC, cid) AS rk
  FROM s
)
SELECT qid AS query_id, cid AS neighbor_id, cosine, CAST(rk AS BIGINT) AS rank
FROM r WHERE rk <= 5 ORDER BY query_id, rank
"""
_ann_duck = """
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
s AS (
  SELECT qid, cid,
         list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]::DOUBLE * cv[i]::DOUBLE), (a, b) -> a + b) /
         (sqrt(list_reduce(list_transform(qv, x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b)) *
          sqrt(list_reduce(list_transform(cv, x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))) AS cos
  FROM q CROSS JOIN c WHERE qid <> cid
),
r AS (
  SELECT qid, cid, round(cos, 4) AS cosine,
         row_number() OVER (PARTITION BY qid ORDER BY round(cos, 4) DESC, cid) AS rk
  FROM s
)
SELECT qid AS query_id, cid AS neighbor_id, cosine, CAST(rk AS BIGINT) AS rank
FROM r WHERE rk <= 5 ORDER BY query_id, rank
"""
_q("cosine_topk", _ann_spark, _ann_duck)

# ---- TPC-H Q1-style aggregation (C1/F6 partial+final agg; integer cents) ----
_q("q1_agg",
   """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
   """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")

# ---- top-k (M1 top/bottom-N labeling analog) ----
# ---- window dedup: first row per key (P7 exact-dup removal analog) ----
_q("window_dedup_first_order",
   """
WITH r AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
)
SELECT o_custkey AS custkey, o_orderkey AS first_orderkey,
       CAST(o_orderdate AS STRING) AS first_orderdate
FROM r WHERE rn = 1 ORDER BY custkey
""",
   """
WITH r AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
)
SELECT o_custkey AS custkey, o_orderkey AS first_orderkey,
       CAST(o_orderdate AS VARCHAR) AS first_orderdate
FROM r WHERE rn = 1 ORDER BY custkey
""")

# ---- sorted-neighbourhood blocking (B4 reference semantics, window=2) ----
# Spark side: ONE window pass with lead(1)/lead(2) — the range self-join
# (b.rn in (a.rn+1, a.rn+2)) is a non-equi predicate Spark can only plan
# as a nested-loop join (O(n^2) compares: 98 s at sf1's 150k customers);
# the lead() plan is O(n log n) sort + linear scan (<2 s). Semantics are
# identical: each row pairs with its next-1 and next-2 neighbours in
# (c_name, c_custkey) order. The DuckDB oracle keeps the declarative
# range-join formulation as the independent proof. The single-task global
# sort is gate-only; the engine's scale path key-partitions first
# (operators/blocking.py sorted-neighbourhood).
_q("sorted_neighbourhood_pairs",
   """
WITH w AS (
  SELECT c_custkey AS id_1,
         lead(c_custkey, 1) OVER (ORDER BY c_name, c_custkey) AS n1,
         lead(c_custkey, 2) OVER (ORDER BY c_name, c_custkey) AS n2
  FROM customer
)
SELECT id_1, id_2
FROM w LATERAL VIEW explode(array(n1, n2)) t AS id_2
WHERE id_2 IS NOT NULL
ORDER BY id_1, id_2
""",
   """
WITH r AS (
  SELECT c_custkey, row_number() OVER (ORDER BY c_name, c_custkey) AS rn
  FROM customer
)
SELECT a.c_custkey AS id_1, b.c_custkey AS id_2
FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 2
ORDER BY id_1, id_2
""")

# ---- exact percentiles (M5/R3 probability-quantile analog) ----
# ---- banding + quantiles (R2 probability bands + R3 input quantiles,
#      one gate — merged r4 from price_banding + percentile_order_price) ----
_pqb = """
SELECT CASE WHEN o_totalprice >= 200000 THEN 'high'
            WHEN o_totalprice >= 50000 THEN 'mid'
            ELSE 'low' END AS band,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       round({pctl}(o_totalprice, 0.25), 4) AS p25,
       round({pctl}(o_totalprice, 0.50), 4) AS p50,
       round({pctl}(o_totalprice, 0.90), 4) AS p90
FROM orders GROUP BY 1 ORDER BY band
"""
_q("price_quantile_bands",
   _pqb.format(pctl="percentile"),
   _pqb.format(pctl="quantile_cont"))

# ---- events: tumbling-window aggregation. BENCH-ONLY since r4 (kept
#      for bench.py HEADLINE timing comparability); the gate semantics
#      live in events_windows_twin, which runs the STREAMING operator
#      itself over tumbling AND sliding windows. ----
_q("events_hourly",
   """
SELECT CAST(unix_timestamp(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
       event_type,
       count(*) AS n_events,
       round(sum(value), 3) AS total_value
FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type
""",
   """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
       event_type,
       count(*) AS n_events,
       round(sum(value), 3) AS total_value
FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type
""")

# ---- M1: heuristic labeling (threshold masks + class stats) ----
# reference: /root/reference/src/core/model_engine.py:54-124
_m1 = """
WITH feats AS (
  SELECT o_orderkey,
         CASE WHEN o_totalprice >= 150000 THEN 1.0 ELSE o_totalprice / 150000 END AS price_sim,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1.0 ELSE 0.0 END AS prio_exact
  FROM orders
),
lab AS (
  SELECT o_orderkey,
         CASE WHEN price_sim >= 0.8 AND prio_exact = 1.0 THEN 1
              WHEN price_sim <= 0.2 AND prio_exact = 0.0 THEN 0
              ELSE -1 END AS label
  FROM feats
)
SELECT CAST(label AS BIGINT) AS label, count(*) AS n
FROM lab GROUP BY label ORDER BY label
"""
_q("heuristic_labels", _m1, _m1)

# ---- M3: logistic scoring as a native column expression (no UDF) ----
# reference: /root/reference/src/core/model_engine.py:230-261 — scoring is
# sigmoid(b0 + sum bi*xi) with broadcast coefficients, so it folds into
# whole-stage codegen.
_q("linear_score_bands",
   """
WITH feats AS (
  SELECT o_orderkey,
         least(o_totalprice / 200000, 1.0) AS x1,
         CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS x2
  FROM orders
),
scored AS (
  SELECT o_orderkey,
         round(1.0 / (1.0 + exp(-(-2.0 + 3.0 * x1 + 1.5 * x2))), 6) AS prob
  FROM feats
)
SELECT CASE WHEN prob >= 0.9 THEN 'high'
            WHEN prob >= 0.6 THEN 'manual'
            ELSE 'low' END AS band,
       count(*) AS n,
       round(sum(prob), 3) AS sum_prob
FROM scored GROUP BY 1 ORDER BY band
""",
   """
WITH feats AS (
  SELECT o_orderkey,
         least(o_totalprice / 200000, 1.0) AS x1,
         CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS x2
  FROM orders
),
scored AS (
  SELECT o_orderkey,
         round(1.0 / (1.0 + exp(-(-2.0 + 3.0 * x1 + 1.5 * x2))), 6) AS prob
  FROM feats
)
SELECT CASE WHEN prob >= 0.9 THEN 'high'
            WHEN prob >= 0.6 THEN 'manual'
            ELSE 'low' END AS band,
       count(*) AS n,
       round(sum(prob), 3) AS sum_prob
FROM scored GROUP BY 1 ORDER BY band
""")

# ---- C1: pair -> record melt + per-record aggregation ----
# reference: /root/reference/src/core/clustering_engine.py:227-319 (stack
# both pair directions, groupby record, mean/max). Pairs here are the
# sorted-neighbourhood pairs; feature = name edit-distance similarity.
# Spark side: lead()-based neighbour pairing (see sorted_neighbourhood_pairs
# above — the range self-join nested-loops at 305 s on sf1's 150k customers;
# the window plan is <2 s with identical pair semantics). Oracle keeps the
# declarative range join.
_c1_spark = """
WITH w AS (
  SELECT c_custkey, c_name,
         lead(c_custkey, 1) OVER (ORDER BY c_name, c_custkey) AS k1,
         lead(c_name, 1)    OVER (ORDER BY c_name, c_custkey) AS m1,
         lead(c_custkey, 2) OVER (ORDER BY c_name, c_custkey) AS k2,
         lead(c_name, 2)    OVER (ORDER BY c_name, c_custkey) AS m2
  FROM customer
),
pairs AS (
  SELECT c_custkey AS id_1, nb.k AS id_2,
         levenshtein(c_name, nb.m) AS edit_dist
  FROM w LATERAL VIEW explode(array(named_struct('k', k1, 'm', m1),
                                    named_struct('k', k2, 'm', m2))) t AS nb
  WHERE nb.k IS NOT NULL
),
melt AS (
  SELECT id_1 AS custkey, edit_dist FROM pairs
  UNION ALL
  SELECT id_2 AS custkey, edit_dist FROM pairs
)
SELECT custkey, count(*) AS n_pairs,
       round(CAST(sum(edit_dist) AS DOUBLE) / count(*), 6) AS mean_edit_dist,
       CAST(min(edit_dist) AS BIGINT) AS min_edit_dist
FROM melt GROUP BY custkey ORDER BY custkey
"""
_c1_duck = """
WITH r AS (
  SELECT c_custkey, c_name, row_number() OVER (ORDER BY c_name, c_custkey) AS rn
  FROM customer
),
pairs AS (
  SELECT a.c_custkey AS id_1, b.c_custkey AS id_2,
         levenshtein(a.c_name, b.c_name) AS edit_dist
  FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 2
),
melt AS (
  SELECT id_1 AS custkey, edit_dist FROM pairs
  UNION ALL
  SELECT id_2 AS custkey, edit_dist FROM pairs
)
SELECT custkey, count(*) AS n_pairs,
       round(CAST(sum(edit_dist) AS DOUBLE) / count(*), 6) AS mean_edit_dist,
       CAST(min(edit_dist) AS BIGINT) AS min_edit_dist
FROM melt GROUP BY custkey ORDER BY custkey
"""
_q("pair_melt_record_agg", _c1_spark, _c1_duck)

# ---- C14: cluster statistics (sizes, buckets, percentiles) ----
# reference: /root/reference/src/core/clustering/cluster_stats.py:18-175
_c14_spark = """
WITH cl AS (
  SELECT concat_ws(' ', slice(split(text,' '), 1, 4)) AS cluster_key, count(*) AS sz
  FROM documents WHERE text IS NOT NULL GROUP BY 1
)
SELECT CASE WHEN sz = 1 THEN 'singleton'
            WHEN sz <= 3 THEN 'tiny'
            WHEN sz <= 10 THEN 'small'
            ELSE 'large' END AS bucket,
       count(*) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_records,
       CAST(max(sz) AS BIGINT) AS max_size
FROM cl GROUP BY 1 ORDER BY bucket
"""
_q("cluster_size_stats", _c14_spark, _c14_spark.replace(
    "concat_ws(' ', slice(split(text,' '), 1, 4))",
    "array_to_string(string_split(text,' ')[1:4], ' ')"))

# ---- G2: duplicate-group materialization (members + min-id survivor) ----
# reference: /root/reference/src/core/openai_deduplicator.py:174-218
_q("dup_group_materialize",
   """
SELECT concat_ws(' ', slice(split(text,' '), 1, 4)) AS group_key,
       min(doc_id) AS survivor,
       count(*) - 1 AS n_merged,
       array_join(array_sort(collect_list(CAST(doc_id AS STRING))), ',') AS merged_from
FROM documents WHERE text IS NOT NULL GROUP BY 1 HAVING count(*) > 1
ORDER BY group_key
""",
   """
SELECT array_to_string(string_split(text,' ')[1:4], ' ') AS group_key,
       min(doc_id) AS survivor,
       count(*) - 1 AS n_merged,
       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id::VARCHAR) AS merged_from
FROM documents WHERE text IS NOT NULL GROUP BY 1 HAVING count(*) > 1
ORDER BY group_key
""")

# ---- grouping sets: ROLLUP + CUBE lattices in one gate (engine
#      completeness; the reference has no grouping-sets — SURVEY.md
#      §2.9; merged r4 from rollup_orders + cube_orders) ----
_cr = """
SELECT 'rollup' AS src,
       coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
UNION ALL
SELECT 'cube' AS src,
       coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY src, status, priority
"""
_q("cube_rollup_orders", _cr, _cr)

# ---- training-data extra: deterministic stratified sample ----
# Per-class balanced subset: top-3 docs per (lang, source) stratum in
# md5(doc_id) order — a pure function of the ids, so the sample is
# reproducible across runs/partitionings (the property reservoir
# sampling lacks). Pattern: rank-over-hash window, the distributed
# shape that replaces driver-side df.sample groupwork at scale.
_strat = f"""
WITH r AS (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang, source
           ORDER BY {{h}} , doc_id) AS rk
  FROM documents
)
SELECT doc_id, lang, source, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 3 ORDER BY lang, source, rk
"""
_q("stratified_sample",
   _strat.format(h=_H_SPARK.format(x="CAST(doc_id AS STRING)")),
   _strat.format(h=_H_DUCK.format(x="CAST(doc_id AS VARCHAR)")))

# ---- B6: blocking reduction-ratio stats per source ----
# reference: /root/reference/src/core/blocking_engine.py:188-202
_b6 = """
WITH n AS (SELECT count(*) AS n_docs FROM documents),
blocked_pairs AS (
  SELECT CAST(sum(c * (c - 1) / 2) AS BIGINT) AS n_pairs FROM (
    SELECT count(*) AS c FROM documents WHERE text IS NOT NULL
    GROUP BY concat_ws(' ', slice(split(text,' '), 1, 4))
  )
)
SELECT n.n_docs AS n_records,
       blocked_pairs.n_pairs AS candidate_pairs,
       round(1.0 - blocked_pairs.n_pairs /
             (CAST(n.n_docs AS DOUBLE) * (n.n_docs - 1) / 2.0), 9) AS reduction_ratio
FROM n CROSS JOIN blocked_pairs
"""
_q("blocking_reduction_ratio", _b6, _b6.replace(
    "concat_ws(' ', slice(split(text,' '), 1, 4))",
    "array_to_string(string_split(text,' ')[1:4], ' ')"))


# ---- R4/S6: JSON scalar functions (build + extract) ----
# reference: /root/reference/src/core/reporting_engine.py:121-182 (GPT
# review JSON flatten) — here as engine-level JSON path extraction.
_q("json_extract_fields",
   """
WITH j AS (
  SELECT doc_id,
         concat('{"doc_id":', CAST(doc_id AS STRING),
                ',"lang":"', lang, '","n_chars":', CAST(n_chars AS STRING), '}') AS payload
  FROM documents
)
SELECT get_json_object(payload, '$.lang') AS lang,
       count(*) AS n_docs,
       CAST(sum(CAST(get_json_object(payload, '$.n_chars') AS BIGINT)) AS BIGINT) AS total_chars
FROM j GROUP BY 1 ORDER BY lang
""",
   """
WITH j AS (
  SELECT doc_id,
         concat('{"doc_id":', doc_id::VARCHAR,
                ',"lang":"', lang, '","n_chars":', n_chars::VARCHAR, '}') AS payload
  FROM documents
)
SELECT json_extract_string(payload, '$.lang') AS lang,
       count(*) AS n_docs,
       CAST(sum(json_extract_string(payload, '$.n_chars')::BIGINT) AS BIGINT) AS total_chars
FROM j GROUP BY 1 ORDER BY lang
""")

# ---- R4: nested-JSON ARRAY flatten (review-verdict explode) ----
# reference: /root/reference/src/core/reporting_engine.py:121-182 — the
# GPT-review report parses a JSON array of per-pair verdicts and
# flattens it to one row per verdict. Spark side: explode(from_json(
# payload, 'array<struct<...>>')); DuckDB twin: unnest(from_json(
# payload, '[{...}]')). The payload is BUILT deterministically from
# base columns on both engines, so the parse+flatten itself is what
# the value hash checks (complements json_extract_fields, which only
# covers scalar get_json_object).
_q("review_json_flatten",
   """
WITH j AS (
  SELECT doc_id,
         concat('[{"pair_id":"p', CAST(doc_id AS STRING), 'a","same":',
                CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END,
                ',"confidence":0.', CAST((doc_id * 7) % 10 AS STRING),
                '},{"pair_id":"p', CAST(doc_id AS STRING),
                'b","same":true,"confidence":0.5}]') AS payload
  FROM documents WHERE doc_id < 200
),
fl AS (
  SELECT doc_id,
         explode(from_json(payload,
           'array<struct<pair_id:string,same:boolean,confidence:double>>')) AS r
  FROM j
)
SELECT doc_id, r.pair_id AS pair_id, r.same AS same_org,
       round(r.confidence, 3) AS confidence
FROM fl ORDER BY doc_id, pair_id
""",
   """
WITH j AS (
  SELECT doc_id,
         '[{"pair_id":"p' || doc_id::VARCHAR || 'a","same":' ||
         CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END ||
         ',"confidence":0.' || ((doc_id * 7) % 10)::VARCHAR ||
         '},{"pair_id":"p' || doc_id::VARCHAR ||
         'b","same":true,"confidence":0.5}]' AS payload
  FROM documents WHERE doc_id < 200
),
fl AS (
  SELECT doc_id,
         unnest(from_json(payload,
           '[{"pair_id":"VARCHAR","same":"BOOLEAN","confidence":"DOUBLE"}]')) AS r
  FROM j
)
SELECT doc_id, r.pair_id AS pair_id, r.same AS same_org,
       round(r.confidence, 3) AS confidence
FROM fl ORDER BY doc_id, pair_id
""")

# ---- C2: feature engineering — non-linear column math + row-stats ----
# reference: /root/reference/src/core/clustering_engine.py:242-315 and
# feature_engineering.py:78-167 (x^2, sqrt, log, row min/max/range,
# row mean/variance across the feature columns). The Spark side
# computes mean/variance with F.aggregate over F.array (one codegen
# projection, the shape the engine uses for arbitrary-width feature
# vectors); the DuckDB twin uses the equivalent left-fold arithmetic
# — both fold in the same order, so the IEEE results are identical.
# ORDER BY lists EVERY output column: (l_orderkey, l_linenumber) is
# NOT unique in the driver's lineitem (sf0.1: 600k rows / 457k
# distinct keys), so a key-only ORDER BY ... LIMIT 100 let each engine
# pick different tie members (surfaced by the sf1 sweep; invisible at
# sf0.01). With the full row in the sort, any remaining ties are
# identical output rows and the selected multiset is well-defined.
_c2_order = ("ORDER BY l_orderkey, l_linenumber, x1_sq, x1_sqrt, "
             "x1_log1p, row_range, interaction, row_mean, row_var "
             "LIMIT 100")
_c2_spark = f"""
WITH f AS (
  SELECT l_orderkey, l_linenumber,
         l_quantity AS x1,
         l_discount * 10 AS x2,
         l_tax * 10 AS x3
  FROM lineitem
),
r AS (
  SELECT *, aggregate(array(x1, x2, x3), CAST(0.0 AS DOUBLE),
                      (acc, x) -> acc + x) / 3 AS rm
  FROM f
)
SELECT l_orderkey, l_linenumber,
       round(x1 * x1, 4) AS x1_sq,
       round(sqrt(x1), 4) AS x1_sqrt,
       round(ln(1 + x1), 4) AS x1_log1p,
       round(greatest(x1, x2, x3) - least(x1, x2, x3), 4) AS row_range,
       round(x1 * x2, 4) AS interaction,
       round(rm, 4) AS row_mean,
       round(aggregate(array(x1, x2, x3), CAST(0.0 AS DOUBLE),
                       (acc, x) -> acc + (x - rm) * (x - rm)) / 3, 4) AS row_var
FROM r {_c2_order}
"""
_c2_duck = f"""
WITH f AS (
  SELECT l_orderkey, l_linenumber,
         l_quantity AS x1,
         l_discount * 10 AS x2,
         l_tax * 10 AS x3
  FROM lineitem
),
r AS (
  SELECT *, (x1 + x2 + x3) / 3 AS rm
  FROM f
)
SELECT l_orderkey, l_linenumber,
       round(x1 * x1, 4) AS x1_sq,
       round(sqrt(x1), 4) AS x1_sqrt,
       round(ln(1 + x1), 4) AS x1_log1p,
       round(greatest(x1, x2, x3) - least(x1, x2, x3), 4) AS row_range,
       round(x1 * x2, 4) AS interaction,
       round(rm, 4) AS row_mean,
       round(((x1 - rm) * (x1 - rm) + (x2 - rm) * (x2 - rm)
              + (x3 - rm) * (x3 - rm)) / 3, 4) AS row_var
FROM r {_c2_order}
"""
_q("feature_engineering_math", _c2_spark, _c2_duck)

# ---- C10: Force-split subdivision of oversized clusters ----
# reference: /root/reference/src/core/clustering/hierarchical/
# subdivision_engine_v3.py:522-598 (guaranteed-progress split). The
# deterministic hash-bucket variant: clusters over max_size split into
# ceil(size/max_size) buckets by intra-cluster rank.
_c10 = """
WITH cl AS (
  SELECT doc_id, concat_ws(' ', slice(split(text,' '), 1, 4)) AS cluster_key
  FROM documents
),
ranked AS (
  SELECT doc_id, cluster_key,
         row_number() OVER (PARTITION BY cluster_key ORDER BY doc_id) AS rn,
         count(*) OVER (PARTITION BY cluster_key) AS sz
  FROM cl
),
split AS (
  SELECT doc_id, cluster_key, sz,
         CASE WHEN sz > 2 THEN CAST((rn - 1) / 2 AS INT) ELSE 0 END AS bucket
  FROM ranked
)
SELECT concat(cluster_key, ':', CAST(bucket AS STRING)) AS sub_cluster,
       count(*) AS n_members,
       min(doc_id) AS survivor
FROM split
GROUP BY 1
HAVING count(*) > 1
ORDER BY sub_cluster
"""
_q("force_split_oversized", _c10, _c10
   .replace("concat_ws(' ', slice(split(text,' '), 1, 4))",
            "array_to_string(string_split(text,' ')[1:4], ' ')")
   .replace("CAST((rn - 1) / 2 AS INT)", "((rn - 1) // 2)::INT")
   .replace("CAST(bucket AS STRING)", "bucket::VARCHAR"))


# ---- P1-P4: normalization chains (lowercase, strip leading article,
#      punctuation -> space, whitespace collapse, digit extraction) ----
# reference: /root/reference/src/core/preprocess_engine.py:58-105
# ---- P1-P3 normalize + M6 dtype coercion, one gate (merged r4 from
#      normalize_fields + coerce_digit_id: same table, same key; the
#      engine fn functions/columns.coerce_digit_id supplies id_long
#      over a planted fixture covering digitless -> NULL, prefixed
#      "rec_000042", and already-numeric ids,
#      /root/reference/src/core/model_engine.py:173-193,281-299) ----
def _normalize_fields_spark(spark: SparkSession) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.columns import coerce_digit_id

    norm = spark.sql("""
SELECT c_custkey,
       trim(regexp_replace(
         regexp_replace(regexp_replace(lower(c_name), '^the ', ''),
                        '[^a-z0-9 ]', ' '),
         ' +', ' ')) AS name_norm,
       regexp_replace(c_name, '[^0-9]', '') AS digits,
       lower(c_mktsegment) AS segment_norm
FROM customer
""")
    raw = norm.withColumn(
        "id_raw",
        F.when(F.col("c_custkey") % 5 == 0, F.lit("no-digits-here"))
         .when(F.col("c_custkey") % 3 == 0,
               F.concat(F.lit("rec_"),
                        F.lpad(F.col("c_custkey").cast("string"), 6, "0")))
         .otherwise(F.col("c_custkey").cast("string")))
    return (raw.withColumn("id_long", coerce_digit_id("id_raw"))
            .orderBy("c_custkey"))

# ---- set ops: UNION-distinct + EXCEPT + INTERSECT (B5 pair-set union
#      analog + the two ops the reference lacks, SURVEY.md §2.9; merged
#      r4 from union_distinct_keys + except_intersect_keys) ----
_ei = """
SELECT 'except' AS op, count(*) AS n_keys FROM
  (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)
UNION ALL
SELECT 'intersect' AS op, count(*) AS n_keys FROM
  (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
UNION ALL
SELECT 'union_distinct' AS op, count(*) AS n_keys FROM
  (SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey FROM supplier)
ORDER BY op
"""
_q("set_ops_keys", _ei, _ei)

# ---- G6: cluster-review fan-out (size-bounded groups + deterministic
#      member sample) ----
# reference: /root/reference/src/core/openai_cluster_reviewer.py:102-147
_q("cluster_review_candidates",
   """
SELECT lang, source, count(*) AS n_members,
       array_join(slice(array_sort(collect_list(
         lpad(CAST(doc_id AS STRING), 8, '0'))), 1, 5), ',') AS sample_members
FROM documents GROUP BY lang, source
HAVING count(*) BETWEEN 3 AND 500 ORDER BY lang, source
""",
   """
SELECT lang, source, count(*) AS n_members,
       array_to_string(list_sort(list(
         lpad(CAST(doc_id AS VARCHAR), 8, '0')))[1:5], ',') AS sample_members
FROM documents GROUP BY lang, source
HAVING count(*) BETWEEN 3 AND 500 ORDER BY lang, source
""")

# ---- training-data extra: train/eval n-gram decontamination ----
# Engine analog: analysis/decontaminate.py (same dataflow with
# xxhash64 grams; the gate uses the md5 hash for cross-engine parity).
# Contamination is PLANTED so the gate cannot go vacuous at any SF:
# eval docs (doc_id % 10 = 0) get their own text concatenated with the
# text of doc_id+1 — a train member, since (doc_id+1) % 10 = 1 — so
# every eval doc shares at least the neighbor's grams with train,
# while its own-text grams stay mostly clean: ratios land strictly
# inside (0, 1) and any join/agg defect moves the hash.
_DECON_N = 5
_decon_spark = f"""
WITH ev AS (
  SELECT d.doc_id, concat(d.text, ' ', c.text) AS text
  FROM documents d JOIN documents c ON c.doc_id = d.doc_id + 1
  WHERE d.doc_id % 10 = 0 AND d.text IS NOT NULL AND c.text IS NOT NULL
),
evt AS (SELECT doc_id, split(text, ' ') AS w FROM ev),
trt AS (SELECT doc_id, split(text, ' ') AS w FROM documents
        WHERE doc_id % 10 <> 0 AND text IS NOT NULL),
evg AS (
  SELECT DISTINCT doc_id, {_H_SPARK.format(x=_gram_spark(_DECON_N))} AS h
  FROM evt LATERAL VIEW explode(sequence(0, size(w)-{_DECON_N})) t AS i
  WHERE size(w) >= {_DECON_N}
),
trg AS (
  SELECT DISTINCT {_H_SPARK.format(x=_gram_spark(_DECON_N))} AS h
  FROM trt LATERAL VIEW explode(sequence(0, size(w)-{_DECON_N})) t AS i
  WHERE size(w) >= {_DECON_N}
)
SELECT e.doc_id, count(*) AS n_grams, count(t.h) AS n_contaminated,
       round(count(t.h) / count(*), 6) AS contamination_ratio
FROM evg e LEFT JOIN trg t ON e.h = t.h
GROUP BY e.doc_id ORDER BY e.doc_id
"""
_decon_duck = f"""
WITH ev AS (
  SELECT d.doc_id, d.text || ' ' || c.text AS text
  FROM documents d JOIN documents c ON c.doc_id = d.doc_id + 1
  WHERE d.doc_id % 10 = 0 AND d.text IS NOT NULL AND c.text IS NOT NULL
),
evt AS (SELECT doc_id, string_split(text, ' ') AS w FROM ev),
trt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE doc_id % 10 <> 0 AND text IS NOT NULL),
evg AS (
  SELECT DISTINCT doc_id, {_H_DUCK.format(x=_gram_duck(_DECON_N))} AS h
  FROM evt, unnest(range(len(w)-{_DECON_N}+1)) AS t(i)
  WHERE len(w) >= {_DECON_N}
),
trg AS (
  SELECT DISTINCT {_H_DUCK.format(x=_gram_duck(_DECON_N))} AS h
  FROM trt, unnest(range(len(w)-{_DECON_N}+1)) AS t(i)
  WHERE len(w) >= {_DECON_N}
)
SELECT e.doc_id, count(*) AS n_grams, count(t.h) AS n_contaminated,
       round(count(t.h) / count(*), 6) AS contamination_ratio
FROM evg e LEFT JOIN trg t ON e.h = t.h
GROUP BY e.doc_id ORDER BY e.doc_id
"""
_q("ngram_decontamination", _decon_spark, _decon_duck)

# ---- training-data extra: Gopher-style repetition signals ----
# Engine analog: analysis/textstats.py repetition_stats (same
# semantics over xxhash64 gram hashes; the gate groups by the gram
# string for cross-engine parity). Duplicate-word fraction,
# duplicate-2-gram fraction, and top-2-gram share per document.
_rep_spark = f"""
WITH toks AS (SELECT doc_id, split(text, ' ') AS w FROM documents
              WHERE text IS NOT NULL),
g2 AS (
  SELECT doc_id, {_gram_spark(2)} AS g
  FROM toks LATERAL VIEW explode(sequence(0, size(w)-2)) t AS i
  WHERE size(w) >= 2
),
cnt AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
ga AS (SELECT doc_id, sum(c) AS n2, count(*) AS nd, max(c) AS mx
       FROM cnt GROUP BY doc_id),
wd AS (SELECT doc_id, size(w) AS nw, size(array_distinct(w)) AS ndw FROM toks)
SELECT w.doc_id, CAST(w.nw AS BIGINT) AS n_tokens,
       round((w.nw - w.ndw) / w.nw, 6) AS dup_word_fraction,
       CAST(g.n2 AS BIGINT) AS n_grams,
       round((g.n2 - g.nd) / g.n2, 6) AS dup_ngram_fraction,
       round(g.mx / g.n2, 6) AS top_ngram_share
FROM wd w JOIN ga g ON w.doc_id = g.doc_id ORDER BY w.doc_id
"""
_rep_duck = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
              WHERE text IS NOT NULL),
g2 AS (
  SELECT doc_id, {_gram_duck(2)} AS g
  FROM toks, unnest(range(len(w)-1)) AS t(i)
  WHERE len(w) >= 2
),
cnt AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
ga AS (SELECT doc_id, sum(c) AS n2, count(*) AS nd, max(c) AS mx
       FROM cnt GROUP BY doc_id),
wd AS (SELECT doc_id, len(w) AS nw, len(list_distinct(w)) AS ndw FROM toks)
SELECT w.doc_id, CAST(w.nw AS BIGINT) AS n_tokens,
       round((w.nw - w.ndw) / w.nw, 6) AS dup_word_fraction,
       CAST(g.n2 AS BIGINT) AS n_grams,
       round((g.n2 - g.nd) / g.n2, 6) AS dup_ngram_fraction,
       round(g.mx / g.n2, 6) AS top_ngram_share
FROM wd w JOIN ga g ON w.doc_id = g.doc_id ORDER BY w.doc_id
"""
_q("repetition_stats", _rep_spark, _rep_duck)

# ---- training-data extra: token document frequency + IDF ----
# Stopword discovery / TF-IDF weighting primitive: distinct
# (doc, token) explode -> per-token document counts -> smoothed IDF
# (ln((N+1)/(df+1)) + 1, the sklearn convention), for tokens in >= 5
# docs. ln() is IEEE-identical on both engines; round 6 keeps the
# hash stable.
_df_spark = """
WITH n AS (SELECT count(*) AS n_docs FROM documents WHERE text IS NOT NULL),
tok AS (
  SELECT DISTINCT doc_id, t AS token
  FROM (SELECT doc_id, explode(split(text, ' ')) AS t
        FROM documents WHERE text IS NOT NULL)
  WHERE t <> ''
),
df AS (SELECT token, count(*) AS doc_freq FROM tok GROUP BY token)
SELECT token, doc_freq,
       round(ln((n.n_docs + 1) / (doc_freq + 1.0)) + 1, 6) AS idf
FROM df CROSS JOIN n
WHERE doc_freq >= 5 ORDER BY doc_freq DESC, token
"""
_df_duck = """
WITH n AS (SELECT count(*) AS n_docs FROM documents WHERE text IS NOT NULL),
tok AS (
  SELECT DISTINCT doc_id, t AS token
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents WHERE text IS NOT NULL)
  WHERE t <> ''
),
df AS (SELECT token, count(*) AS doc_freq FROM tok GROUP BY token)
SELECT token, doc_freq,
       round(ln((n.n_docs + 1) / (doc_freq + 1.0)) + 1, 6) AS idf
FROM df CROSS JOIN n
WHERE doc_freq >= 5 ORDER BY doc_freq DESC, token
"""
_q("token_doc_frequency", _df_spark, _df_duck)

# ---- training-data extra: deterministic hash-based corpus split ----
# Engine analog: functions/columns.py hash_split (xxhash64 production
# path, pytest-covered); the gate pins the SEMANTICS — split assignment
# is a pure function of the id, stable across runs/partitionings —
# with the md5 hash both engines share.
_split_case = ("CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'valid' "
               "ELSE 'test' END")
_q("hash_split_assign",
   f"""
WITH h AS (
  SELECT doc_id, {_H_SPARK.format(x="CAST(doc_id AS STRING)")} % 10 AS b
  FROM documents
)
SELECT doc_id, CAST(b AS BIGINT) AS bucket, {_split_case} AS split
FROM h ORDER BY doc_id
""",
   f"""
WITH h AS (
  SELECT doc_id, {_H_DUCK.format(x="CAST(doc_id AS VARCHAR)")} % 10 AS b
  FROM documents
)
SELECT doc_id, CAST(b AS BIGINT) AS bucket, {_split_case} AS split
FROM h ORDER BY doc_id
""")

# ---- window ops: gap-based event sessionization (30-min timeout) ----
# Classic lag + cumulative-sum session builder over the events table;
# microsecond-integer timestamps on both engines (unix_micros /
# epoch_us) so no float time arithmetic enters the hash.
_sess_spark, _sess_duck = [f"""
WITH e AS (SELECT user_id, event_id, {us_fn} AS tus FROM events),
m AS (
  SELECT user_id, event_id, tus,
         CASE WHEN lag(tus) OVER w IS NULL
                OR tus - lag(tus) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
s AS (
  SELECT user_id, tus,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM m
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       count(*) AS n_events,
       min(tus) AS start_us,
       CAST(max(tus) - min(tus) AS BIGINT) AS duration_us
FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx
""" for us_fn in ("unix_micros(CAST(ts AS TIMESTAMP))",  # parquet ts is NTZ;
                  # session tz is UTC (same convention events_hourly relies on)
                  "epoch_us(ts)")]
_q("event_sessionization", _sess_spark, _sess_duck)


# --------------------------------------------------------------------------
# Engine-operator gates: Spark side is ENGINE DataFrame code (not SQL),
# paired with a DuckDB recursive-CTE twin — puts the distributed
# operators themselves (alternating-star CC, the C8/C9 subdivision
# ladder) under the same rows+schema+hash signal as the SQL gates.
# Edge fixtures are pure doc_id arithmetic (identical on both engines;
# no hash functions, which differ across engines). Vertex ids are
# zero-padded on the Spark side so the engine's lexicographic-min
# representative equals DuckDB's numeric min.
# --------------------------------------------------------------------------

PAIRED_FN: dict = {}  # name -> (spark_fn(spark) -> DataFrame, duckdb_sql)


def _fq(name: str, fn, duck_sql: str) -> None:
    PAIRED_FN[name] = (fn, duck_sql.strip())


_CC_EDGES_SPARK = """
SELECT lpad(CAST(a AS STRING), 6, '0') AS id_1,
       lpad(CAST(b AS STRING), 6, '0') AS id_2
FROM (
  SELECT doc_id AS a, doc_id+1 AS b FROM documents
  WHERE doc_id < 192 AND doc_id % 6 <> 5 AND doc_id + 1 < 192
  UNION ALL
  SELECT doc_id, doc_id+2 FROM documents
  WHERE doc_id < 192 AND doc_id % 6 = 0 AND doc_id + 2 < 192
  UNION ALL
  SELECT doc_id, doc_id+6 FROM documents
  WHERE doc_id < 192 AND doc_id % 24 = 2 AND doc_id + 6 < 192
)
"""


def _cc_small_spark(spark: SparkSession) -> DataFrame:
    """Engine large-star/small-star connected components over a
    deterministic 192-vertex fixture (chains + cycles + cross-links;
    24 components of sizes 6 and 12). cc_driver_max_edges=0 forces the
    DISTRIBUTED star path — the 10^12-scale algorithm itself is what
    the hash gate checks, not the driver union-find shortcut."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from ..config import DEFAULT_CONFIG
    from ..operators.cc import connected_components

    edges = spark.sql(_CC_EDGES_SPARK)
    cfg = replace(DEFAULT_CONFIG, cc_driver_max_edges=0)
    comps = connected_components(edges, cfg)
    return (comps.select(F.col("clip_id").cast("bigint").alias("doc_id"),
                         F.col("component").cast("bigint").alias("component"))
            .orderBy("doc_id"))


_fq("connected_components_small", _cc_small_spark, """
WITH RECURSIVE e0 AS (
  SELECT doc_id AS a, doc_id+1 AS b FROM documents
  WHERE doc_id < 192 AND doc_id % 6 <> 5 AND doc_id + 1 < 192
  UNION ALL
  SELECT doc_id, doc_id+2 FROM documents
  WHERE doc_id < 192 AND doc_id % 6 = 0 AND doc_id + 2 < 192
  UNION ALL
  SELECT doc_id, doc_id+6 FROM documents
  WHERE doc_id < 192 AND doc_id % 24 = 2 AND doc_id + 6 < 192
),
sym AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
reach(id, r) AS (
  SELECT a, b FROM sym
  UNION
  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
)
SELECT id AS doc_id, least(min(r), id) AS component
FROM reach GROUP BY id ORDER BY doc_id
""")


_LADDER_EDGES_SPARK = """
SELECT lpad(CAST(doc_id AS STRING), 6, '0') AS id_1,
       lpad(CAST(doc_id + 1 AS STRING), 6, '0') AS id_2,
       CASE WHEN doc_id % 10 = 4 THEN 0.55 ELSE 0.95 END AS score
FROM documents WHERE doc_id < 60 AND doc_id % 10 <> 9
"""


def _subdivision_ladder_spark(spark: SparkSession) -> DataFrame:
    """C8/C9 threshold-ladder subdivision end-to-end on a planted
    over-merge: 6 chains of 10 (weak middle link, score 0.55) cluster
    together at base threshold 0.5; with max_size=6 every cluster is
    oversized and the 0.7 rung must split each along the planted
    halves. Runs the ENGINE ops (connected_components +
    subdivide_ladder), then maps the hierarchical keys back to
    numeric (base_cluster, sub_cluster) representatives."""
    from pyspark.sql import functions as F

    from ..config import DEFAULT_CONFIG
    from ..operators.cc import connected_components
    from ..operators.subdivide import subdivide_ladder

    edges = spark.sql(_LADDER_EDGES_SPARK)
    base_e = edges.where(F.col("score") >= 0.5).select("id_1", "id_2")
    clusters = (connected_components(base_e, DEFAULT_CONFIG)
                .withColumnRenamed("component", "cluster_id"))
    # singletons_to_noise=False matches the DuckDB twin's
    # coalesce(sub_rep, base_cluster): a member disconnected at the
    # accepted rung stays in its parent cluster on BOTH sides (the
    # fixture has no rung singletons, but divergent semantics would
    # desync silently on any fixture change — ADVICE r2)
    assign = subdivide_ladder(clusters, edges, max_size=6,
                              thresholds=[0.7], singletons_to_noise=False)
    parts = F.split(F.col("cluster_key"), "\\.")
    return (assign.select(
        F.col("clip_id").cast("bigint").alias("doc_id"),
        parts.getItem(0).cast("bigint").alias("base_cluster"),
        F.coalesce(F.element_at(parts, 2), parts.getItem(0))
         .cast("bigint").alias("sub_cluster"))
        .orderBy("doc_id"))


_fq("subdivision_ladder", _subdivision_ladder_spark, """
WITH RECURSIVE e AS (
  SELECT doc_id AS a, doc_id+1 AS b,
         CASE WHEN doc_id%10=4 THEN 0.55 ELSE 0.95 END AS s
  FROM documents WHERE doc_id < 60 AND doc_id%10 <> 9),
sym0 AS (SELECT a,b FROM e WHERE s >= 0.5 UNION SELECT b,a FROM e WHERE s >= 0.5),
r0(id, r) AS (SELECT a, b FROM sym0
              UNION SELECT r0.id, sym0.b FROM r0 JOIN sym0 ON r0.r = sym0.a),
base AS (SELECT id, least(min(r), id) AS base_cluster FROM r0 GROUP BY id),
bsz AS (SELECT base_cluster, count(*) AS c FROM base GROUP BY 1),
sym1 AS (SELECT a,b FROM e WHERE s >= 0.7 UNION SELECT b,a FROM e WHERE s >= 0.7),
sym1o AS (SELECT sym1.a, sym1.b FROM sym1
          JOIN base ba ON sym1.a = ba.id JOIN base bb ON sym1.b = bb.id
          JOIN bsz ON ba.base_cluster = bsz.base_cluster
          WHERE ba.base_cluster = bb.base_cluster AND bsz.c > 6),
r1(id, r) AS (SELECT a, b FROM sym1o
              UNION SELECT r1.id, sym1o.b FROM r1 JOIN sym1o ON r1.r = sym1o.a),
sub AS (SELECT id, least(min(r), id) AS sub_rep FROM r1 GROUP BY id),
nsub AS (SELECT b.base_cluster, count(DISTINCT s.sub_rep) AS n
         FROM base b JOIN sub s ON b.id = s.id GROUP BY 1)
SELECT b.id AS doc_id, b.base_cluster,
       CASE WHEN bsz.c > 6 AND coalesce(nsub.n, 0) >= 2
            THEN coalesce(s.sub_rep, b.base_cluster)
            ELSE b.base_cluster END AS sub_cluster
FROM base b
JOIN bsz USING (base_cluster)
LEFT JOIN nsub USING (base_cluster)
LEFT JOIN sub s ON b.id = s.id
ORDER BY doc_id
""")


def _tiered_pairing_spark(spark: SparkSession) -> DataFrame:
    """B1-B5 core engine op (operators/blocking.pairs_within_blocks +
    the bitmask source agg) under the hash gate: a deterministic
    member table (two block families over documents; every block under
    max_block_full_pairs, so the oracle's full pairing is the exact
    expected output — the salted hot tier is measured separately in
    tests/test_blocking.py because its xxhash64 salt has no DuckDB
    twin). Reference: blocking B1-B5 at
    /root/reference/src/core/blocking_engine.py:51-128."""
    from pyspark.sql import functions as F

    from ..config import DEFAULT_CONFIG
    from ..operators.blocking import _sources_agg, pairs_within_blocks

    docs = spark.table("documents").where(F.col("doc_id") < 300)
    fam1 = docs.select(
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("clip_id"),
        F.lit("exact").alias("source"),
        (F.col("doc_id") % 40).cast("long").alias("bkey"))
    fam2 = (docs.where(F.col("doc_id") % 3 == 0)
            .select(F.lpad(F.col("doc_id").cast("string"), 6, "0")
                    .alias("clip_id"),
                    F.lit("lsh").alias("source"),
                    (F.col("doc_id") % 7).cast("long").alias("bkey")))
    members = fam1.unionByName(fam2)
    pairs = pairs_within_blocks(members, DEFAULT_CONFIG)
    out = _sources_agg(pairs)
    return (out.select(F.col("id_1").cast("bigint").alias("id_1"),
                       F.col("id_2").cast("bigint").alias("id_2"),
                       F.array_join("sources", ",").alias("sources"))
            .orderBy("id_1", "id_2"))


_fq("tiered_pairing_small_blocks", _tiered_pairing_spark, """
WITH m AS (
  SELECT doc_id, 'exact' AS source, doc_id % 40 AS bkey
  FROM documents WHERE doc_id < 300
  UNION ALL
  SELECT doc_id, 'lsh' AS source, doc_id % 7 AS bkey
  FROM documents WHERE doc_id < 300 AND doc_id % 3 = 0
),
p AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, a.source
  FROM m a JOIN m b
    ON a.source = b.source AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT id_1, id_2,
       string_agg(DISTINCT source, ',' ORDER BY source) AS sources
FROM p GROUP BY id_1, id_2 ORDER BY id_1, id_2
""")


_fq("normalize_fields", _normalize_fields_spark, """
WITH raw AS (
  SELECT c_custkey,
         trim(regexp_replace(
           regexp_replace(regexp_replace(lower(c_name), '^the ', ''),
                          '[^a-z0-9 ]', ' ', 'g'),
           ' +', ' ', 'g')) AS name_norm,
         regexp_replace(c_name, '[^0-9]', '', 'g') AS digits,
         lower(c_mktsegment) AS segment_norm,
         CASE WHEN c_custkey % 5 = 0 THEN 'no-digits-here'
              WHEN c_custkey % 3 = 0
                THEN 'rec_' || lpad(c_custkey::VARCHAR, 6, '0')
              ELSE c_custkey::VARCHAR END AS id_raw
  FROM customer
)
SELECT c_custkey, name_norm, digits, segment_norm, id_raw,
       CASE WHEN regexp_extract(id_raw, '([0-9]+)', 1) <> ''
            THEN regexp_extract(id_raw, '([0-9]+)', 1)::BIGINT END AS id_long
FROM raw ORDER BY c_custkey
""")


def _key_cocluster_spark(spark: SparkSession) -> DataFrame:
    """C11 engine op (operators/cc.key_cocluster_edges): records
    sharing a non-null exact key must ALWAYS co-cluster — edges come
    from the same skew-safe tiered pairer the blocking stage uses
    (raw-key blocking, no hash: hard merge constraints may not
    collide), then connected components. Fixture: 37 key groups of
    exactly 6 docs (key = doc_id % 37); the DuckDB twin expresses the
    guaranteed outcome directly (component = min doc_id per key).
    Reference approximates C11 with feature boosting,
    /root/reference/src/core/clustering/hierarchical/subdivision_engine_v3.py:15-238."""
    from pyspark.sql import functions as F

    from ..config import DEFAULT_CONFIG
    from ..operators.cc import connected_components, key_cocluster_edges

    recs = (spark.table("documents")
            .where(F.col("doc_id") < 222)
            .select(F.lpad(F.col("doc_id").cast("string"), 6, "0")
                    .alias("clip_id"),
                    (F.col("doc_id") % 37).cast("string").alias("grp_key")))
    edges = key_cocluster_edges(recs, "grp_key", DEFAULT_CONFIG)
    comps = connected_components(edges, DEFAULT_CONFIG)
    return (comps.select(F.col("clip_id").cast("bigint").alias("doc_id"),
                         F.col("component").cast("bigint").alias("component"))
            .orderBy("doc_id"))


_fq("key_cocluster_components", _key_cocluster_spark, """
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY (doc_id % 37)) AS component
FROM documents WHERE doc_id < 222 ORDER BY doc_id
""")


def _events_windows_twin(spark: SparkSession) -> DataFrame:
    """The STREAMING windowed-counter operator
    (streaming/dedup_stream.windowed_event_counts) applied in batch
    mode over BOTH window shapes (merged r4 from
    events_windowed_stream_twin + events_sliding_twin):

    - tumbling: 1-hour windows, identical groupBy(window(...)) plan
      minus the watermark, so the streaming aggregation logic itself
      is value-hash-gated (late-data/watermark semantics are covered
      by tests/test_streaming.py, which no batch oracle can express);
    - sliding: 1-hour windows every 30 minutes, so each event lands in
      exactly TWO windows; the DuckDB twin replays the assignment with
      epoch arithmetic (window starts align to the 1970 epoch, same as
      Spark's F.window)."""
    from pyspark.sql import functions as F

    from ..streaming.dedup_stream import windowed_event_counts

    ev = spark.table("events")
    tumbling = (windowed_event_counts(ev, ts_col="ts", window="1 hour")
                .select(F.lit("tumbling").alias("kind"),
                        F.unix_timestamp("win_start").cast("bigint")
                        .alias("win_epoch"),
                        "event_type", "n_events", "total_value"))
    sliding = (windowed_event_counts(ev, ts_col="ts", window="1 hour",
                                     slide="30 minutes")
               .select(F.lit("sliding").alias("kind"),
                       F.unix_timestamp("win_start").cast("bigint")
                       .alias("win_epoch"),
                       "event_type", "n_events", "total_value"))
    return tumbling.unionAll(sliding).orderBy("kind", "win_epoch", "event_type")


_fq("events_windows_twin", _events_windows_twin, """
WITH sl AS (
  SELECT CAST(floor(epoch(ts) / 1800) * 1800 - i * 1800 AS BIGINT) AS win_epoch,
         event_type, value
  FROM events, unnest([0, 1]) AS t(i)
)
SELECT 'tumbling' AS kind,
       CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_epoch,
       event_type,
       count(*) AS n_events,
       round(sum(value), 3) AS total_value
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'sliding' AS kind, win_epoch, event_type, count(*) AS n_events,
       round(sum(value), 3) AS total_value
FROM sl GROUP BY 2, 3
ORDER BY kind, win_epoch, event_type
""")


def _map_distinct_spark(spark: SparkSession) -> DataFrame:
    """P9 engine op (operators/stats.map_distinct): apply a driver-side
    function once per DISTINCT value of a column, broadcast the mapping
    back (the reference calls an external API per unique company name
    this way, /root/reference/src/core/preprocess_engine.py:158-167).
    Gated with a pure deterministic fn so the DuckDB twin can express
    the same mapping in SQL."""
    from pyspark.sql import functions as F

    from ..operators.stats import map_distinct

    cust = spark.table("customer").select("c_custkey", "c_mktsegment")
    mapped = map_distinct(cust, "c_mktsegment",
                          lambda v: f"{v.lower()}#{len(v)}", out_col="seg_tag")
    return (mapped.groupBy("seg_tag")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("c_custkey").alias("min_key"))
            .orderBy("seg_tag"))


_fq("distinct_value_map", _map_distinct_spark, """
SELECT lower(c_mktsegment) || '#' || length(c_mktsegment) AS seg_tag,
       count(*) AS n_rows,
       min(c_custkey) AS min_key
FROM customer GROUP BY 1 ORDER BY seg_tag
""")


def _pair_expand_spark(spark: SparkSession) -> DataFrame:
    """R1 engine op (operators/stats.expand_pairs): attach both
    records' context columns to a pair list with _1/_2 suffixes
    (reference does a positional pandas concat,
    /root/reference/src/core/reporting_engine.py:92-101)."""
    from pyspark.sql import functions as F

    from ..operators.stats import expand_pairs

    docs = spark.table("documents")
    pairs = (docs.where(F.col("doc_id") % 3 == 0)
             .select(F.col("doc_id").alias("id_1"),
                     (F.col("doc_id") + 1).alias("id_2")))
    records = docs.select("doc_id", F.length("text").cast("long").alias("tlen"))
    out = expand_pairs(pairs, records, id_col="doc_id",
                       context_cols=("tlen",))
    return out.select("id_1", "id_2", "tlen_1", "tlen_2").orderBy("id_1")


_fq("pair_expand_context", _pair_expand_spark, """
SELECT p.id_1, p.id_2,
       a.len AS tlen_1, b.len AS tlen_2
FROM (SELECT doc_id AS id_1, doc_id + 1 AS id_2 FROM documents
      WHERE doc_id % 3 = 0) p
JOIN (SELECT doc_id, length(text)::BIGINT AS len FROM documents) a
  ON p.id_1 = a.doc_id
JOIN (SELECT doc_id, length(text)::BIGINT AS len FROM documents) b
  ON p.id_2 = b.doc_id
ORDER BY id_1
""")


def _threshold_calibration_spark(spark: SparkSession) -> DataFrame:
    """C5 engine op (operators/stats.calibrate_threshold, exact mode):
    data-driven verify threshold from pair-score quantiles (reference
    derives adaptive DBSCAN eps from k-NN distance percentiles,
    /root/reference/src/core/clustering/adaptive_eps.py:19-179). The
    exact interpolating percentile is engine-portable: Spark
    `percentile` and DuckDB `quantile_cont` interpolate identically."""
    from pyspark.sql import functions as F

    from ..operators.stats import calibrate_threshold

    scored = (spark.table("documents")
              .select(((F.col("doc_id") % 97) / 96.0).alias("score")))
    t = calibrate_threshold(scored, score_col="score", quantile=0.6,
                            sample_frac=1.0, floor=0.2, ceil=0.9,
                            exact=True)
    return local_rows_df(spark, [(round(t, 6),)], "threshold double")


_fq("threshold_calibration", _threshold_calibration_spark, """
SELECT round(least(greatest(q, 0.2), 0.9), 6) AS threshold
FROM (SELECT quantile_cont((doc_id % 97) / 96.0, 0.6) AS q FROM documents)
""")


def _jw_levenshtein_spark(spark: SparkSession) -> DataFrame:
    """F1 engine kernel (functions/text.jaro_winkler via the Arrow UDF
    in operators/verify.jaro_winkler_udf) under the hash gate against
    DuckDB's built-in jaro_winkler_similarity, PLUS the builtin
    edit-distance metric over the same pairs (merged r4 from
    jaro_winkler_pairs + levenshtein_pairs — same operator shape, pair
    join + scalar string metric). Both JW impls follow the standard
    Winkler definition (p=0.1, max prefix 4, 0.7 boost threshold —
    the reference scores with recordlinkage jarowinkler,
    /root/reference/src/core/similarity_engine.py:76-78). Empty
    strings are filtered: conventions for ''~'' differ (we say 1.0
    like jellyfish, DuckDB says 0.0) and neither occurs in real
    name-scoring. Verified equal on all 1 999 sf0.01 neighbor pairs
    and 500 random fuzz pairs to 1e-9 before rounding."""
    from pyspark.sql import functions as F

    from ..operators.verify import jaro_winkler_udf

    part = spark.table("part").select("p_partkey", "p_name")
    a = part.select(F.col("p_partkey").alias("k"),
                    F.col("p_name").alias("n1"))
    b = part.select((F.col("p_partkey") - 1).alias("k"),
                    F.col("p_name").alias("n2"))
    jw = jaro_winkler_udf()
    return (a.join(b, "k")
            .where((F.length("n1") > 0) & (F.length("n2") > 0))
            .select(F.col("k").alias("p_partkey"),
                    F.round(jw("n1", "n2"), 6).alias("jw_sim"),
                    F.levenshtein("n1", "n2").cast("bigint")
                    .alias("edit_dist"))
            .orderBy("p_partkey"))


_fq("jw_levenshtein_pairs", _jw_levenshtein_spark, """
SELECT a.p_partkey,
       round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw_sim,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
WHERE length(a.p_name) > 0 AND length(b.p_name) > 0
ORDER BY a.p_partkey
""")


def _connectivity_validation_spark(spark: SparkSession) -> DataFrame:
    """C12 engine op (operators/stats.validate_connectivity): count of
    dup edges whose endpoints landed in different clusters (the
    reference repairs these with a sampled loop,
    /root/reference/src/core/clustering/connectivity_manager.py:18-173).
    Gated on a deliberately WRONG assignment (cluster = doc_id % 7)
    over the 192-vertex CC fixture so the count is non-zero and the
    join logic — not just the zero invariant — is what hashes."""
    from pyspark.sql import functions as F

    from ..operators.stats import validate_connectivity

    edges = spark.sql(_CC_EDGES_SPARK)
    clusters = (spark.table("documents")
                .where(F.col("doc_id") < 192)
                .select(F.lpad(F.col("doc_id").cast("string"), 6, "0")
                        .alias("clip_id"),
                        (F.col("doc_id") % 7).alias("cluster_id")))
    n = validate_connectivity(edges, clusters)
    return local_rows_df(spark, [(n,)], "violations bigint")


def _yeo_johnson_spark(spark: SparkSession) -> DataFrame:
    """C3 engine op (operators/stats.yeo_johnson_col): the Yeo-Johnson
    power transform as a native codegen expression (reference scales
    clustering features with sklearn PowerTransformer,
    /root/reference/src/core/clustering_engine.py:323-346). Fixed
    lambdas 0.5 / 0.0 / 2.0 over a mixed-sign column exercise all four
    piecewise branches; the driver-side MLE lambda fit is pytest-
    verified (tests/test_scaling.py) — MLE is not SQL-expressible."""
    from pyspark.sql import functions as F

    from ..operators.stats import yeo_johnson_col

    df = (spark.table("documents")
          .select("doc_id",
                  ((F.col("doc_id") % 21) - 10.0).alias("x")))
    return (df.select(
        "doc_id",
        F.round(yeo_johnson_col("x", 0.5), 6).alias("yj_half"),
        F.round(yeo_johnson_col("x", 0.0), 6).alias("yj_zero"),
        F.round(yeo_johnson_col("x", 2.0), 6).alias("yj_two"))
        .orderBy("doc_id"))


_fq("yeo_johnson_transform", _yeo_johnson_spark, """
WITH t AS (SELECT doc_id, (doc_id % 21) - 10.0 AS x FROM documents)
SELECT doc_id,
  round(CASE WHEN x >= 0 THEN (pow(x + 1.0, 0.5) - 1.0) / 0.5
             ELSE -(pow(1.0 - x, 1.5) - 1.0) / 1.5 END, 6) AS yj_half,
  round(CASE WHEN x >= 0 THEN ln(1.0 + x)
             ELSE -(pow(1.0 - x, 2.0) - 1.0) / 2.0 END, 6) AS yj_zero,
  round(CASE WHEN x >= 0 THEN (pow(x + 1.0, 2.0) - 1.0) / 2.0
             ELSE -ln(1.0 - x) END, 6) AS yj_two
FROM t ORDER BY doc_id
""")


_fq("connectivity_validation", _connectivity_validation_spark, """
WITH e0 AS (
  SELECT doc_id AS a, doc_id+1 AS b FROM documents
  WHERE doc_id < 192 AND doc_id % 6 <> 5 AND doc_id + 1 < 192
  UNION ALL
  SELECT doc_id, doc_id+2 FROM documents
  WHERE doc_id < 192 AND doc_id % 6 = 0 AND doc_id + 2 < 192
  UNION ALL
  SELECT doc_id, doc_id+6 FROM documents
  WHERE doc_id < 192 AND doc_id % 24 = 2 AND doc_id + 6 < 192
)
SELECT count(*)::BIGINT AS violations
FROM e0 WHERE (a % 7) <> (b % 7)
""")


_REVIEW_PAIRS_SPARK = """
SELECT lpad(CAST(doc_id AS STRING), 6, '0') AS id_1,
       lpad(CAST(doc_id + 1 AS STRING), 6, '0') AS id_2,
       CAST((doc_id * 7) % 101 AS DOUBLE) / 100.0 AS score,
       CASE WHEN doc_id % 11 = 3 THEN ''
            ELSE substr(text, 1, 10 + CAST(doc_id % 13 AS INT)) END AS company_1,
       substr(text, 3, 8 + CAST(doc_id % 17 AS INT)) AS company_2
FROM documents WHERE doc_id < 240
"""


def _batch_review_spark(spark: SparkSession) -> DataFrame:
    """G5 engine op (operators/review.batch_review_fanout): mapInPandas
    batch fan-out with an in-partition thread pool, driven by the
    deterministic threshold_reviewer so every verdict is a pure
    function of the pair — DuckDB can replay the reviewer's rule as
    plain SQL (reference chunks pairs into batches of 10 on a
    ThreadPoolExecutor, /root/reference/src/core/openai_deduplicator.py:316-364)."""
    from ..operators.review import batch_review_fanout, threshold_reviewer

    pairs = spark.sql(_REVIEW_PAIRS_SPARK)
    v = batch_review_fanout(pairs, threshold_reviewer(0.9),
                            batch_size=7, max_workers_per_partition=4)
    return v.orderBy("pair_id")


_fq("batch_review_fanout", _batch_review_spark, """
WITH p AS (
  SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS id_1,
         lpad(CAST(doc_id + 1 AS VARCHAR), 6, '0') AS id_2,
         CAST((doc_id * 7) % 101 AS DOUBLE) / 100.0 AS score,
         CASE WHEN doc_id % 11 = 3 THEN ''
              ELSE substr(text, 1, 10 + CAST(doc_id % 13 AS INT)) END AS company_1,
         substr(text, 3, 8 + CAST(doc_id % 17 AS INT)) AS company_2
  FROM documents WHERE doc_id < 240
)
SELECT id_1 || '-' || id_2 AS pair_id,
       score >= 0.9 AS same_organization,
       score AS confidence,
       least(id_1, id_2) AS primary_record_id,
       CASE WHEN length(company_1) > length(company_2) THEN company_1
            WHEN length(company_2) > length(company_1) THEN company_2
            WHEN company_2 > company_1 THEN company_1
            ELSE company_2 END AS canonical_name,
       FALSE AS error
FROM p ORDER BY pair_id
""")


def _address_concat_spark(spark: SparkSession) -> DataFrame:
    """P4 engine op (functions/columns.address_concat): multi-part
    address join as one codegen expression — concat_ws skips NULL
    parts, whitespace collapses, ends trimmed (reference joins parts
    per-row in Python, preprocess_engine.py:108-114). NULLs and messy
    spacing are planted deterministically to exercise every branch."""
    from pyspark.sql import functions as F

    from ..functions.columns import address_concat

    df = (spark.table("customer")
          .select("c_custkey",
                  F.col("c_name").alias("a1"),
                  F.when(F.col("c_custkey") % 3 == 0, F.lit(None))
                   .otherwise(F.col("c_mktsegment")).alias("a2"),
                  F.when(F.col("c_custkey") % 2 == 0,
                         F.lit("  apt  7 ")).alias("a3")))
    return (df.select(F.col("c_custkey").alias("custkey"),
                      address_concat(["a1", "a2", "a3"]).alias("address"))
            .orderBy("custkey"))


_fq("address_concat_normalize", _address_concat_spark, r"""
WITH t AS (
  SELECT c_custkey,
         c_name AS a1,
         CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_mktsegment END AS a2,
         CASE WHEN c_custkey % 2 = 0 THEN '  apt  7 ' END AS a3
  FROM customer)
SELECT c_custkey AS custkey,
       trim(regexp_replace(concat_ws(' ', a1, a2, a3), '\s+', ' ', 'g')) AS address
FROM t ORDER BY custkey
""")


# ---- training-data extra: SemDeDup-style semantic dedup verdicts ----
# Spark side is the ENGINE kernel (analysis/semdedup.py applyInPandas
# per-cell matmul) with deterministic cells (= the planted `label`
# column) so the DuckDB twin is exactly expressible: row i is dropped
# iff any j < i in the same cell has round(cos, 4) >= tau. Production
# uses kmeans cells instead (cell_col=None); that path is pytest-
# covered (test_analysis.py) since the fit is not SQL-expressible.
_SEMD_TAU = 0.35  # matches embedding_near_dup_pairs: known non-vacuous


def _semantic_dedup_spark(spark: SparkSession) -> DataFrame:
    from pyspark.sql import functions as F

    from .semdedup import semantic_dedup

    emb = spark.table("embeddings")
    out = semantic_dedup(emb, cell_col="label", tau=_SEMD_TAU)
    return (out.select(F.col("vec_id"), F.col("cell"), F.col("kept"))
            .orderBy("vec_id"))


_fq("semantic_dedup_cells", _semantic_dedup_spark, f"""
WITH pri AS (
  SELECT a.vec_id AS i,
         max(round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 4)) AS mx
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND b.vec_id < a.vec_id
  GROUP BY a.vec_id
)
SELECT e.vec_id, CAST(e.label AS BIGINT) AS cell,
       coalesce(p.mx, -2) < {_SEMD_TAU} AS kept
FROM embeddings e LEFT JOIN pri p ON e.vec_id = p.i
ORDER BY e.vec_id
""")


# ---- training-data extra: PII redaction (ENGINE fn under the gate) ----
# PII is PLANTED from doc_id arithmetic (the raw corpus has none, which
# would make a redaction gate vacuous): every doc gets one email, one
# IPv4, and one phone built identically on both engines. The Spark side
# runs analysis/textstats.pii_redact (codegen regexp_count + chained
# regexp_replace); patterns are RE2-compatible so DuckDB executes the
# very same regex strings.
_PII_TEXT_SPARK = ("concat('reach user', CAST(doc_id AS STRING), "
                   "'@example.com or 10.0.', CAST(doc_id % 200 AS STRING), "
                   "'.42 tel +1 555 ', "
                   "lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' ', lang)")
_PII_TEXT_DUCK = ("concat('reach user', CAST(doc_id AS VARCHAR), "
                  "'@example.com or 10.0.', CAST(doc_id % 200 AS VARCHAR), "
                  "'.42 tel +1 555 ', "
                  "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' ', lang)")


def _pii_redaction_spark(spark: SparkSession) -> DataFrame:
    from pyspark.sql import functions as F

    from .textstats import pii_redact

    planted = spark.table("documents").selectExpr(
        "doc_id", f"{_PII_TEXT_SPARK} AS text")
    out = pii_redact(planted)
    return (out.select("doc_id", "redacted",
                       *[F.col(c).cast("bigint").alias(c)
                         for c in ("n_emails", "n_ips", "n_phones")])
            .orderBy("doc_id"))


def _pii_duck_sql() -> str:
    from .textstats import PII_PATTERNS
    red = "text"
    for k, p in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{p}', '<{k.upper()}>', 'g')"
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{p}')) AS n_{k}s"
        for k, p in PII_PATTERNS.items())
    return f"""
WITH t AS (SELECT doc_id, {_PII_TEXT_DUCK} AS text FROM documents)
SELECT doc_id, {red} AS redacted, {counts}
FROM t ORDER BY doc_id
"""


_fq("pii_redaction", _pii_redaction_spark, _pii_duck_sql())


# ---- cluster-agreement metrics (ENGINE op under the gate) ----
# operators/stats.cluster_agreement: pair-level precision/recall/F1 of
# one assignment against another WITHOUT materializing co-membership
# pairs (the contingency-count identity — sums of C(n,2) over per-side
# and joint group sizes). Fixtures are doc_id arithmetic: ref groups of
# 5 consecutive ids (noise every 17th), test groups shifted by one
# (noise every 13th) — boundaries disagree, so precision/recall land
# strictly inside (0, 1).
def _cluster_agreement_spark(spark: SparkSession) -> DataFrame:
    from ..operators.stats import cluster_agreement

    docs = spark.table("documents")
    ref = docs.selectExpr(
        "CAST(doc_id AS STRING) AS clip_id",
        "CASE WHEN doc_id % 17 = 0 THEN -1 "
        "ELSE CAST(floor(doc_id / 5) AS BIGINT) END AS cluster_id")
    test = docs.selectExpr(
        "CAST(doc_id AS STRING) AS clip_id",
        "CASE WHEN doc_id % 13 = 0 THEN -1 "
        "ELSE CAST(floor((doc_id + 1) / 5) AS BIGINT) END AS cluster_id")
    return cluster_agreement(ref, test)


_fq("cluster_agreement_metrics", _cluster_agreement_spark, """
WITH a AS (SELECT doc_id, CAST(floor(doc_id / 5) AS BIGINT) AS c
           FROM documents WHERE doc_id % 17 <> 0),
b AS (SELECT doc_id, CAST(floor((doc_id + 1) / 5) AS BIGINT) AS c
      FROM documents WHERE doc_id % 13 <> 0),
pa AS (SELECT CAST(coalesce(sum(n * (n - 1) / 2), 0) AS BIGINT) AS n_pairs_ref
       FROM (SELECT count(*) AS n FROM a GROUP BY c)),
pb AS (SELECT CAST(coalesce(sum(n * (n - 1) / 2), 0) AS BIGINT) AS n_pairs_test
       FROM (SELECT count(*) AS n FROM b GROUP BY c)),
pj AS (SELECT CAST(coalesce(sum(n * (n - 1) / 2), 0) AS BIGINT) AS n_pairs_both
       FROM (SELECT count(*) AS n
             FROM a JOIN b USING (doc_id) GROUP BY a.c, b.c)),
m AS (
  SELECT n_pairs_ref, n_pairs_test, n_pairs_both,
         round(n_pairs_both / greatest(n_pairs_test, 1), 6) AS precision,
         round(n_pairs_both / greatest(n_pairs_ref, 1), 6) AS recall
  FROM pa CROSS JOIN pb CROSS JOIN pj
)
SELECT n_pairs_ref, n_pairs_test, n_pairs_both, precision, recall,
       round(2 * precision * recall /
             greatest(precision + recall, 1e-12), 6) AS f1
FROM m
""")


# ---- embedding-cosine near-dup pairs (label-blocked all-pairs; the
#      threshold-pair complement of cosine_topk) ----
# Spark side: applyInPandas Gram-tile matmul over (label, bucket-pair)
# groups. Three sf1-scale lessons (20k vecs / 20M in-label pairs; the
# sf0.01 driver scale hid all of them):
# 1. `label` has ~10 values, so a naive `ON a.label = b.label`
#    self-join plans as <=10 hash-join tasks — measured: ONE task
#    ground through ~6M cosines for 27+ min. Routing pair (x, y) to
#    exactly one of 8x8 bucket groups per label (each side replicated
#    NB=8x on slim id+vector rows) restores ~640-way parallelism with
#    the identical output set — same skew lesson as
#    operators/blocking.pairs_within_blocks.
# 2. higher-order functions (aggregate/zip_with) are INTERPRETED
#    per-eval in Spark — tens of us per pair, 316 s at sf1 even after
#    fix 1.
# 3. unrolling the dim-64 dot into a flat GetArrayItem expression does
#    NOT fix 2: the generated method blows past the codegen budget
#    (hugeMethodLimit) and the whole stage falls back to interpreted
#    eval — measured 409 s, WORSE than the lambda form. Per-pair
#    arithmetic this wide belongs in Arrow/numpy, not Catalyst exprs:
#    one float32 BLAS matmul per (n/NB)^2 tile, cosine from
#    double-precision norms. This is the engine's own production path
#    (analysis/ann.py, analysis/semdedup.py) and the input-contract's
#    "vectorized pandas/Arrow UDFs, no per-row Python".
# Parity: dot and norms accumulate in float64 (pairwise order vs
# DuckDB's index order differs by ~1e-15 relative — invisible at
# round(4)). Exact 4-decimal ties DO exist among finite doubles (any
# cosine equal to an odd multiple of 2^-5, e.g. 1/32 = 0.03125), so
# the rounding mode must match DuckDB's round() (half away from zero);
# np.round is half-to-even and would emit 0.0312 vs DuckDB's 0.0313 on
# such a tie. Verified hash-equal at sf0.01/sf0.1/sf1.
_EMB_NB = 8  # bucket fan-out; scale as sqrt(label_rows/tile_target)


def _emb_near_dup_fn(spark: SparkSession) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    nb = _EMB_NB
    e = (spark.table("embeddings")
         .select("vec_id", "label", "embedding",
                 F.pmod("vec_id", F.lit(nb)).alias("bkt"))
         .withColumn("other", F.explode(F.sequence(F.lit(0), F.lit(nb - 1))))
         .select("vec_id", "label", "embedding",
                 F.least("bkt", "other").alias("bi"),
                 F.greatest("bkt", "other").alias("bj"),
                 # row sits on the A side of tile (bi, bj) iff its own
                 # bucket is bi; each unordered pair lands in exactly
                 # one tile, diagonal tiles carry one copy per row
                 (F.col("bkt") <= F.col("other")).alias("is_a")))

    def tile(key, pdf):
        _, bi, bj = key
        a = pdf[pdf["is_a"]] if bi != bj else pdf
        b = pdf[~pdf["is_a"]] if bi != bj else pdf
        if a.empty or b.empty:
            return pd.DataFrame({"id_1": pd.Series(dtype="int64"),
                                 "id_2": pd.Series(dtype="int64"),
                                 "cos_sim": pd.Series(dtype="float64")})
        xa = np.asarray(list(a["embedding"]), dtype=np.float64)
        xb = np.asarray(list(b["embedding"]), dtype=np.float64)
        g = xa @ xb.T
        cos = g / np.outer(np.sqrt((xa * xa).sum(1)),
                           np.sqrt((xb * xb).sum(1)))
        ia = a["vec_id"].to_numpy()
        ib = b["vec_id"].to_numpy()
        # id_1 < id_2 exactly once per pair: diagonal tiles take the
        # upper triangle; off-diagonal tiles orient each pair by id
        r, c = np.nonzero((ia[:, None] < ib[None, :])
                          if bi == bj else np.ones_like(cos, dtype=bool))
        id1, id2 = ia[r], ib[c]
        sw = id1 > id2
        id1[sw], id2[sw] = id2[sw], id1[sw]
        v = cos[r, c]
        # half-away-from-zero to match DuckDB round(); np.round is
        # half-to-even and diverges on exact ties (see header comment)
        sim = np.copysign(np.floor(np.abs(v) * 1e4 + 0.5) / 1e4, v)
        keep = sim >= 0.35
        return pd.DataFrame({"id_1": id1[keep], "id_2": id2[keep],
                             "cos_sim": sim[keep]})

    out = e.groupBy("label", "bi", "bj").applyInPandas(
        tile, schema="id_1 long, id_2 long, cos_sim double")
    return out.orderBy("id_1", "id_2")


_fq("embedding_near_dup_pairs", _emb_near_dup_fn, """
WITH p AS (
  SELECT a.vec_id AS id_1, b.vec_id AS id_2,
         round(list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]), 4) AS cos_sim
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id_1, id_2, cos_sim FROM p WHERE cos_sim >= 0.35 ORDER BY id_1, id_2
""")


# --------------------------------------------------------------------------
# Runners
# --------------------------------------------------------------------------

# Registered for bench.py HEADLINE timing comparability across rounds
# but NOT driver-gated: the driver's correctness artifact records at
# most 50 queries alphabetically (CORRECTNESS_r03 dropped 10 of r3's
# 60 gates, VERDICT r3 #2), so r4 consolidated the gate set to exactly
# 50 by merging semantic twins; these two queries' gate semantics live
# in doc_group_stats and events_windows_twin respectively.
BENCH_ONLY = frozenset({"token_count_stats", "events_hourly"})


def all_names() -> list[str]:
    names = sorted((set(PAIRED_SQL) | set(PAIRED_FN)) - BENCH_ONLY)
    if len(names) > 50:  # ValueError, not assert: must survive python -O
        raise ValueError(
            f"{len(names)} gates exceed the driver's 50-entry correctness "
            f"window — merge or BENCH_ONLY the overflow (VERDICT r3 #2)")
    return names


def run_spark(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    register_views(spark, sf_dir)
    if name in PAIRED_FN:
        return PAIRED_FN[name][0](spark)
    return spark.sql(PAIRED_SQL[name][0])


def duckdb_sql(name: str) -> str:
    if name in PAIRED_FN:
        return PAIRED_FN[name][1]
    return PAIRED_SQL[name][1]


def canon_rows(df) -> list[tuple]:
    """THE canonical row form both local gate checkers compare
    (tests/test_gate_queries.py and jobs/correctness_sweep.py import
    this single definition so 'green' cannot silently mean two
    different things): columns sorted by name, floats %.9g NaN-safe,
    everything else str()'d, rows sorted."""
    import math
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, float):
                row.append("nan" if math.isnan(v) else f"{v:.9g}")
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return sorted(rows)
