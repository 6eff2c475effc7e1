"""Driver-contract query catalog: every implemented operator from
SURVEY.md §2 as a (spark_fn, oracle_sql) pair.

Each Spark callable takes (spark, sf_dir) and returns a DataFrame whose
column names AND values (doubles rounded to 6 decimals on both sides)
match the DuckDB oracle SQL exactly. Oracles are omitted only for
operators whose randomness cannot be expressed in SQL (LSH
projections, EM posteriors) — the driver records rows-only checks for
those.

Cross-engine determinism contract:
- token hash: Spark conv(substr(md5,1,15),16,10) == DuckDB
  ('0x'||substr(md5,1,15))::bigint (verified bit-for-bit)
- erfc: the same Abramowitz-Stegun 7.1.26 polynomial on both sides
- ranks: row_number with (value, id) tie-break on both sides
- doubles: round(x, 6) on both sides
- sparse-row probes (mp_empiric's dhat): LEFT JOIN onto the candidate
  table with a per-key default — counts are integer-exact, so 6-dp
  hashes match as long as strict comparisons between DISTINCT pair
  distances agree (guaranteed at f64 given the knn rows hash-match)
- metrics DuckDB lacks a list function for (manhattan): unnest with
  generate_subscripts and join on the position
- ln(0) differs across engines: Spark log(0) is NULL, DuckDB ln(0)
  errors — both sides use CASE WHEN x <= 0 THEN -infinity (atkinson ε=1)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kiez_spark.functions import text as T
from kiez_spark.operators import analysis as A
from kiez_spark.operators import clustering as CC
from kiez_spark.operators import curation as CUR
from kiez_spark.operators import dedup as D
from kiez_spark.operators import evaluate as E
from kiez_spark.operators import knn as K
from kiez_spark.operators import lsh as L
from kiez_spark.operators import skew as SK
from kiez_spark.operators import text_analysis as TA
from kiez_spark.pipeline import HubnessKnn, PipelineConfig

N_CAND = 10
TOP_K = 5

# ---------------------------------------------------------------- helpers


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("bigint").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"),
        F.col("label"),
    )



def _nrows(sf_dir: str, table: str) -> int:
    """Exact row count from the parquet footer — a driver-side metadata
    read (no Spark count job). Used to thread known cardinalities into
    operators that otherwise fall back to a full-table scalar scan."""
    import pyarrow.parquet as _pq

    return _pq.ParquetFile(f"{sf_dir}/{table}.parquet").metadata.num_rows


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus a mutated near-copy of each doc (first token ->
    'zzz', doc_id + 100000): guarantees known near-duplicate pairs so the
    dedup operators produce non-empty, oracle-checkable output (the
    driver corpus itself has no duplicates)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    mut = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"^\S+", "zzz").alias("text"),
    )
    return d.unionByName(mut)


# identical derivation in SQL
_DOCS2_SQL = """
docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, regexp_replace(text, '^\\S+', 'zzz') AS text
  FROM documents
)
"""

_V_SQL = "v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings)"

_PAIRS_SQL = f"""
{_V_SQL},
pairs AS (
  SELECT a.id AS qid, b.id AS cid, list_distance(a.vec, b.vec) AS d
  FROM v a, v b WHERE a.id <> b.id
),
fwd AS (
  SELECT qid, cid, d,
         row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM pairs
)
"""


def _erfc_sql(z: str) -> str:
    """A&S 7.1.26 erfc, sign-handled — textual twin of vectors.erfc_expr."""
    pos = (
        "((0.254829592*__T__ - 0.284496736*power(__T__,2) + 1.421413741*power(__T__,3)"
        " - 1.453152027*power(__T__,4) + 1.061405429*power(__T__,5)) * exp(-(__Z__*__Z__)))"
    )

    def expand(zexpr: str) -> str:
        t = f"(1.0/(1.0 + 0.3275911*({zexpr})))"
        return pos.replace("__T__", t).replace("__Z__", f"({zexpr})")

    return (
        f"(CASE WHEN ({z}) >= 0 THEN {expand(z)} "
        f"ELSE 2.0 - {expand(f'-({z})')} END)"
    )


def _sf_sql(x: str, mu: str, sd: str) -> str:
    return f"(0.5 * {_erfc_sql(f'(({x}) - ({mu})) / (({sd}) * 1.4142135623730951)')})"


_TOKENS_SQL = (
    "string_split(trim(regexp_replace(lower({col}), '\\s+', ' ', 'g')), ' ')"
)
_H_SQL = "(('0x' || substr(md5({s}), 1, 15))::BIGINT)"


def _hashed_shingles_sql(tok: str, n: int = 3) -> str:
    """Distinct 60-bit-hashed shingle set — the exact SQL twin of the
    Spark-side shingle kernel (operators/dedup.py _shingle_sig_kernel):
    same md5-based hash applied before the distinct, so set sizes and
    intersections agree bit-for-bit even on (astronomically rare) hash
    collisions."""
    return (
        f"list_distinct(list_transform({_shingles_sql(tok, n)},"
        f" x -> {_H_SQL.format(s='x')}))"
    )


def _shingles_sql(tok: str, n: int = 3) -> str:
    return (
        f"CASE WHEN len({tok}) >= {n} THEN "
        f"[array_to_string(({tok})[i:i+{n - 1}], ' ') for i in range(1, len({tok}) - {n - 2})] "
        f"ELSE [] END"
    )


# ---------------------------------------------------------------- kiez core


def q_knn_euclidean(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    nn = K.knn_join_pandas(emb, emb, TOP_K, "euclidean", exclude_self=True)
    return nn.select(
        "query_id", "cand_id", F.col("rank"), F.round("dist", 6).alias("dist")
    )


SQL_KNN_EUCLIDEAN = f"""
WITH {_PAIRS_SQL}
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d, 6) AS dist
FROM fwd WHERE r <= {TOP_K}
"""


def q_knn_cosine(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    nn = K.knn_join_pandas(emb, emb, TOP_K, "cosine", exclude_self=True)
    return nn.select(
        "query_id", "cand_id", F.col("rank"), F.round("dist", 6).alias("dist")
    )


SQL_KNN_COSINE = f"""
WITH {_V_SQL},
pairs AS (
  SELECT a.id AS qid, b.id AS cid,
         1.0 - list_cosine_similarity(a.vec, b.vec) AS d
  FROM v a, v b WHERE a.id <> b.id
),
fwd AS (
  SELECT qid, cid, d, row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM pairs
)
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d, 6) AS dist
FROM fwd WHERE r <= {TOP_K}
"""


def q_knn_manhattan(spark, sf_dir):
    """Manhattan through the fast pandas tier (element-wise kernel branch;
    reference sklearn backend takes any minkowski p,
    sklearn_nearest_neighbors.py:51-101)."""
    emb = _emb(spark, sf_dir)
    nn = K.knn_join_pandas(emb, emb, TOP_K, "manhattan", exclude_self=True)
    return nn.select(
        "query_id", "cand_id", F.col("rank"), F.round("dist", 6).alias("dist")
    )


SQL_KNN_MANHATTAN = f"""
WITH {_V_SQL},
vex AS (
  SELECT id, unnest(vec) AS val, generate_subscripts(vec, 1) AS pos FROM v
),
pairs AS (
  SELECT a.id AS qid, b.id AS cid, sum(abs(a.val - b.val)) AS d
  FROM vex a JOIN vex b ON a.pos = b.pos AND a.id <> b.id
  GROUP BY a.id, b.id
),
fwd AS (
  SELECT qid, cid, d, row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM pairs
)
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d, 6) AS dist
FROM fwd WHERE r <= {TOP_K}
"""


def q_knn_minkowski3(spark, sf_dir):
    """General minkowski-p (p=3) through the pandas kernel — closes the
    oracle gap on the last metric family (the reference's sklearn
    backend accepts any p, sklearn_nearest_neighbors.py:51-101).
    Distances hash-match only if the p-th-root arithmetic is identical:
    both engines compute pow(sum(pow(abs(d), 3)), 1/3) in f64."""
    emb = _emb(spark, sf_dir)
    nn = K.knn_join_pandas(
        emb, emb, TOP_K, "minkowski_3", exclude_self=True
    )
    return nn.select(
        "query_id", "cand_id", F.col("rank"), F.round("dist", 6).alias("dist")
    )


SQL_KNN_MINKOWSKI3 = f"""
WITH {_V_SQL},
vex AS (
  SELECT id, unnest(vec) AS val, generate_subscripts(vec, 1) AS pos FROM v
),
pairs AS (
  SELECT a.id AS qid, b.id AS cid,
         pow(sum(pow(abs(a.val - b.val), 3)), 1.0 / 3) AS d
  FROM vex a JOIN vex b ON a.pos = b.pos AND a.id <> b.id
  GROUP BY a.id, b.id
),
fwd AS (
  SELECT qid, cid, d, row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM pairs
)
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d, 6) AS dist
FROM fwd WHERE r <= {TOP_K}
"""


def q_knn_chebyshev(spark, sf_dir):
    """Chebyshev (minkowski p=inf) through the pandas kernel — the last
    member of the reference sklearn tier's minkowski family
    (sklearn_nearest_neighbors.py:51-101). max(|diff|) picks ONE exact
    f64 element on both engines (no summation-order hazard), so the
    6-dp hashes match bit-for-bit."""
    emb = _emb(spark, sf_dir)
    nn = K.knn_join_pandas(emb, emb, TOP_K, "chebyshev", exclude_self=True)
    return nn.select(
        "query_id", "cand_id", F.col("rank"), F.round("dist", 6).alias("dist")
    )


SQL_KNN_CHEBYSHEV = f"""
WITH {_V_SQL},
vex AS (
  SELECT id, unnest(vec) AS val, generate_subscripts(vec, 1) AS pos FROM v
),
pairs AS (
  SELECT a.id AS qid, b.id AS cid, max(abs(a.val - b.val)) AS d
  FROM vex a JOIN vex b ON a.pos = b.pos AND a.id <> b.id
  GROUP BY a.id, b.id
),
fwd AS (
  SELECT qid, cid, d, row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM pairs
)
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d, 6) AS dist
FROM fwd WHERE r <= {TOP_K}
"""


def q_knn_canberra(spark, sf_dir):
    """Canberra (weighted L1, scipy convention: 0/0 terms contribute 0)
    through the pandas kernel — the reference's sklearn exact tier
    accepts it by name (sklearn_nearest_neighbors.py:51-101). Each
    per-dim |a-b|/(|a|+|b|) division is IEEE exact-rounded on both
    engines, so like manhattan the only cross-engine hazard is
    summation order, absorbed by the 6-dp rounding convention."""
    emb = _emb(spark, sf_dir)
    nn = K.knn_join_pandas(emb, emb, TOP_K, "canberra", exclude_self=True)
    return nn.select(
        "query_id", "cand_id", F.col("rank"), F.round("dist", 6).alias("dist")
    )


SQL_KNN_CANBERRA = f"""
WITH {_V_SQL},
vex AS (
  SELECT id, unnest(vec) AS val, generate_subscripts(vec, 1) AS pos FROM v
),
pairs AS (
  SELECT a.id AS qid, b.id AS cid,
         sum(CASE WHEN abs(a.val) + abs(b.val) = 0 THEN 0.0
                  ELSE abs(a.val - b.val) / (abs(a.val) + abs(b.val)) END) AS d
  FROM vex a JOIN vex b ON a.pos = b.pos AND a.id <> b.id
  GROUP BY a.id, b.id
),
fwd AS (
  SELECT qid, cid, d, row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM pairs
)
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d, 6) AS dist
FROM fwd WHERE r <= {TOP_K}
"""


def q_knn_correlation(spark, sf_dir):
    """Correlation distance (scipy: cosine over row-centered vectors)
    through the pandas kernel — the kernel centers the rows once and
    inherits the cosine folded-sign GEMM tier
    (sklearn_nearest_neighbors.py:51-101 accepts it by name). Both
    engines center in f64 then take 1 - cosine_similarity; the 6-dp
    convention absorbs the mean/dot summation-order ulps exactly as it
    does for the green knn_exact_cosine row."""
    emb = _emb(spark, sf_dir)
    nn = K.knn_join_pandas(emb, emb, TOP_K, "correlation", exclude_self=True)
    return nn.select(
        "query_id", "cand_id", F.col("rank"), F.round("dist", 6).alias("dist")
    )


SQL_KNN_CORRELATION = f"""
WITH {_V_SQL},
vm AS (SELECT id, vec, list_avg(vec) AS mu FROM v),
vc AS (SELECT id, list_transform(vec, x -> x - mu) AS vec FROM vm),
pairs AS (
  SELECT a.id AS qid, b.id AS cid,
         1.0 - list_cosine_similarity(a.vec, b.vec) AS d
  FROM vc a, vc b WHERE a.id <> b.id
),
fwd AS (
  SELECT qid, cid, d, row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM pairs
)
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d, 6) AS dist
FROM fwd WHERE r <= {TOP_K}
"""


def q_knn_braycurtis(spark, sf_dir):
    """Bray-Curtis (sum|a-b| / sum|a+b|, scipy convention) through the
    pandas kernel — with canberra this completes the numeric metric tail
    of the reference's sklearn exact tier
    (sklearn_nearest_neighbors.py:51-101). Numerator and denominator are
    each a manhattan-class f64 sum; the final IEEE divide is
    exact-rounded on both engines, so the 6-dp convention absorbs the
    summation-order ulps exactly as it does for manhattan."""
    emb = _emb(spark, sf_dir)
    nn = K.knn_join_pandas(emb, emb, TOP_K, "braycurtis", exclude_self=True)
    return nn.select(
        "query_id", "cand_id", F.col("rank"), F.round("dist", 6).alias("dist")
    )


SQL_KNN_BRAYCURTIS = f"""
WITH {_V_SQL},
vex AS (
  SELECT id, unnest(vec) AS val, generate_subscripts(vec, 1) AS pos FROM v
),
pairs AS (
  SELECT a.id AS qid, b.id AS cid,
         sum(abs(a.val - b.val))
           / greatest(sum(abs(a.val + b.val)), 1e-300) AS d
  FROM vex a JOIN vex b ON a.pos = b.pos AND a.id <> b.id
  GROUP BY a.id, b.id
),
fwd AS (
  SELECT qid, cid, d, row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM pairs
)
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d, 6) AS dist
FROM fwd WHERE r <= {TOP_K}
"""


def q_knn_hamming(spark, sf_dir):
    """Boolean/hamming family of the reference's sklearn exact tier
    (sklearn_nearest_neighbors.py:51-101): mean element-wise inequality
    over COARSELY QUANTIZED vectors (floor(2x) — on continuous data
    hamming is degenerate, everything differs). Integer-valued quantized
    dims are exact in f32, so the kernel's f32 selection counts equal
    the f64 rerank counts and count/64 is bit-exact across engines."""
    emb = _emb(spark, sf_dir).select(
        "id",
        F.expr("transform(vec, x -> floor(x * 2))").alias("vec"),
    )
    nn = K.knn_join_pandas(emb, emb, TOP_K, "hamming", exclude_self=True)
    return nn.select(
        "query_id", "cand_id", F.col("rank"), F.round("dist", 6).alias("dist")
    )


SQL_KNN_HAMMING = f"""
WITH {_V_SQL},
vq AS (
  SELECT id, list_transform(vec, x -> floor(x * 2)) AS vec FROM v
),
vex AS (
  SELECT id, unnest(vec) AS val, generate_subscripts(vec, 1) AS pos FROM vq
),
pairs AS (
  SELECT a.id AS qid, b.id AS cid,
         sum(CASE WHEN a.val <> b.val THEN 1.0 ELSE 0.0 END)
           / count(*) AS d
  FROM vex a JOIN vex b ON a.pos = b.pos AND a.id <> b.id
  GROUP BY a.id, b.id
),
fwd AS (
  SELECT qid, cid, d, row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM pairs
)
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d, 6) AS dist
FROM fwd WHERE r <= {TOP_K}
"""


# deterministic per-dim variance vector for the seuclidean oracle: both
# engines use the same literal V_i = 1 + (i mod 7)/4 (i 0-based), so the
# weights carry no data-dependent estimation step to diverge on
_SEUCL_V = [1.0 + (i % 7) * 0.25 for i in range(64)]


def q_knn_seuclidean(spark, sf_dir):
    """Standardized euclidean (sklearn metric_params={'V': ...}) through
    the pandas kernel — the reference's sklearn exact tier accepts it
    with per-dim weights (sklearn_nearest_neighbors.py:49-101). The
    engine folds it to euclidean over 1/sqrt(V)-scaled inputs
    (knn.seuclidean_scale); the oracle scales identically, so the only
    cross-engine hazard is the euclidean summation order already
    absorbed by the 6-dp convention."""
    emb = _emb(spark, sf_dir)
    nn = K.knn_join_pandas(
        emb, emb, TOP_K, "seuclidean", exclude_self=True,
        metric_params={"V": _SEUCL_V},
    )
    return nn.select(
        "query_id", "cand_id", F.col("rank"), F.round("dist", 6).alias("dist")
    )


SQL_KNN_SEUCLIDEAN = f"""
WITH {_V_SQL},
vex AS (
  SELECT id,
         unnest(vec) * (1.0 / sqrt(1.0 + ((generate_subscripts(vec, 1) - 1) % 7) * 0.25))
           AS val,
         generate_subscripts(vec, 1) AS pos
  FROM v
),
pairs AS (
  SELECT a.id AS qid, b.id AS cid, sqrt(sum(pow(a.val - b.val, 2))) AS d
  FROM vex a JOIN vex b ON a.pos = b.pos AND a.id <> b.id
  GROUP BY a.id, b.id
),
fwd AS (
  SELECT qid, cid, d, row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM pairs
)
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d, 6) AS dist
FROM fwd WHERE r <= {TOP_K}
"""


def _mahalanobis_vi(dim: int = 64):
    """Deterministic SPD inverse-covariance literal for the mahalanobis
    oracle: tridiagonal, diagonally dominant (diag 1 + (i mod 5)/5,
    off-diag 0.1) — no data-dependent estimation step to diverge on."""
    vi = [[0.0] * dim for _ in range(dim)]
    for i in range(dim):
        vi[i][i] = 1.0 + (i % 5) * 0.2
        if i + 1 < dim:
            vi[i][i + 1] = vi[i + 1][i] = 0.1
    return vi


def q_knn_mahalanobis(spark, sf_dir):
    """Mahalanobis (sklearn metric_params={'VI': ...}) through the
    pandas kernel — the last member of the reference sklearn exact
    tier's metric surface (sklearn_nearest_neighbors.py:49-101). The
    engine folds it to euclidean over x @ cholesky(VI) (one Arrow GEMM
    per batch, knn.matvec_transform); the oracle applies the identical
    literal Cholesky factor in long form, so the remaining cross-engine
    hazard is the euclidean summation order absorbed by 6-dp."""
    emb = _emb(spark, sf_dir)
    nn = K.knn_join_pandas(
        emb, emb, TOP_K, "mahalanobis", exclude_self=True,
        metric_params={"VI": _mahalanobis_vi()},
    )
    return nn.select(
        "query_id", "cand_id", F.col("rank"), F.round("dist", 6).alias("dist")
    )


def _sql_knn_mahalanobis() -> str:
    import numpy as np

    L = np.linalg.cholesky(np.asarray(_mahalanobis_vi(), dtype=np.float64))
    rows = []
    for i in range(L.shape[0]):
        for j in range(L.shape[1]):
            if L[i, j] != 0.0:
                # 1-based i to match generate_subscripts; repr() is an
                # exact f64 round-trip, so both engines multiply by the
                # bit-identical factor
                rows.append(f"({i + 1}, {j}, {L[i, j]!r})")
    vals = ", ".join(rows)
    return f"""
WITH {_V_SQL},
vex AS (
  SELECT id, unnest(vec) AS val, generate_subscripts(vec, 1) AS pos FROM v
),
tmat (i, j, m) AS (VALUES {vals}),
temb AS (
  SELECT vex.id, t.j AS pos, sum(vex.val * t.m) AS val
  FROM vex JOIN tmat t ON vex.pos = t.i
  GROUP BY vex.id, t.j
),
pairs AS (
  SELECT a.id AS qid, b.id AS cid,
         sqrt(sum((a.val - b.val) * (a.val - b.val))) AS d
  FROM temb a JOIN temb b ON a.pos = b.pos AND a.id <> b.id
  GROUP BY a.id, b.id
),
fwd AS (
  SELECT qid, cid, d, row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM pairs
)
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d, 6) AS dist
FROM fwd WHERE r <= {TOP_K}
"""


def _q_knn_boolean(metric: str):
    def fn(spark, sf_dir):
        emb = _emb(spark, sf_dir).select(
            "id",
            F.expr("transform(vec, x -> IF(x > 0, 1.0D, 0.0D))").alias("vec"),
        )
        nn = K.knn_join_pandas(emb, emb, TOP_K, metric, exclude_self=True)
        return nn.select(
            "query_id", "cand_id", F.col("rank"),
            F.round("dist", 6).alias("dist"),
        )

    fn.__doc__ = (
        f"Boolean {metric} dissimilarity over sign-binarized vectors (the"
        " reference's sklearn exact tier accepts the boolean family by"
        " name, sklearn_nearest_neighbors.py:49-101). CTT/XOR counts are"
        " exact integers in both engines and the single divide is"
        " correctly rounded, so the distances are bit-exact — like"
        " hamming's count/d."
    )
    return fn


def _sql_knn_boolean(metric: str) -> str:
    den = (
        "sum(CASE WHEN a.val = 1 OR b.val = 1 THEN 1.0 ELSE 0.0 END)"
        if metric == "jaccard"
        else "sum(a.val + b.val)"
    )
    return f"""
WITH {_V_SQL},
vq AS (
  SELECT id, list_transform(vec, x -> CASE WHEN x > 0 THEN 1.0 ELSE 0.0 END)
           AS vec
  FROM v
),
vex AS (
  SELECT id, unnest(vec) AS val, generate_subscripts(vec, 1) AS pos FROM vq
),
pairs AS (
  SELECT a.id AS qid, b.id AS cid,
         sum(CASE WHEN a.val <> b.val THEN 1.0 ELSE 0.0 END)
           / greatest({den}, 1e-300) AS d
  FROM vex a JOIN vex b ON a.pos = b.pos AND a.id <> b.id
  GROUP BY a.id, b.id
),
fwd AS (
  SELECT qid, cid, d, row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM pairs
)
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d, 6) AS dist
FROM fwd WHERE r <= {TOP_K}
"""


def q_salted_join(spark, sf_dir):
    """Skew-salted blocked kNN must EQUAL the plain per-key kNN — the
    oracle is the UNSALTED SQL, so exact equality (the whole point of
    salting: a pure physical re-partitioning) is what the gate checks.
    The blocking key is deliberately skewed (~half the rows on one hot
    key, the north_rule skew scenario); salting splits the hot key into
    ~id-hashed shards and replicates the index side per shard
    (operators/skew.py), so each query still sees every index row of its
    key exactly once."""
    emb = _emb(spark, sf_dir)
    keyed = emb.select(
        "id",
        "vec",
        F.when(F.col("id") % 2 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 5).cast("string")))
        .alias("bkey"),
    )
    qs, xs = SK.salted_blocks(keyed, keyed, key="bkey", target_rows=64)
    nn = K.knn_join_blocked(
        qs, xs, k=TOP_K, metric="euclidean", block_col="block",
        exclude_self=True,
    )
    return K.topk(nn, TOP_K).select(
        "query_id", "cand_id", F.col("rank"), F.round("dist", 6).alias("dist")
    )


SQL_SALTED_JOIN = f"""
WITH {_V_SQL},
keyed AS (
  SELECT id, vec,
         CASE WHEN id % 2 = 0 THEN 'hot'
              ELSE 'k' || (id % 5)::VARCHAR END AS bkey
  FROM v
),
pairs AS (
  SELECT a.id AS qid, b.id AS cid, list_distance(a.vec, b.vec) AS d
  FROM keyed a JOIN keyed b ON a.bkey = b.bkey AND a.id <> b.id
),
fwd AS (
  SELECT qid, cid, d, row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM pairs
)
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d, 6) AS dist
FROM fwd WHERE r <= {TOP_K}
"""


def _hubness_query(method: str):
    def fn(spark, sf_dir):
        emb = _emb(spark, sf_dir)
        eng = HubnessKnn(
            PipelineConfig(
                n_candidates=N_CAND, k=TOP_K, metric="euclidean",
                hubness=method, tier="pandas",
            )
        )
        eng.fit(emb.select("id", "vec"))
        nn = eng.kneighbors(TOP_K)
        return nn.select(
            "query_id", "cand_id", F.col("rank"), F.round("dist", 6).alias("dist")
        )

    return fn


# single-source note: the reverse (t->s) candidate table equals the
# forward one (same entity set, symmetric metric), so the oracle reuses
# `cand` for both the per-query and per-candidate statistics.
_CAND_SQL = f"""
{_PAIRS_SQL},
cand AS (SELECT qid, cid, d FROM fwd WHERE r <= {N_CAND})
"""


def _final_sql(dprime: str, extra_cte: str = "") -> str:
    return f"""
WITH {_CAND_SQL}{extra_cte},
scored AS (SELECT qid, cid, {dprime} AS d2 FROM cand_stats),
final AS (
  SELECT qid, cid, d2,
         row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS r
  FROM scored
)
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d2, 6) AS dist
FROM final WHERE r <= {TOP_K}
"""


SQL_HUBNESS_CSLS = _final_sql(
    "2.0 * d - r_test - r_train",
    extra_cte=""",
stats AS (SELECT qid AS sid, avg(d) AS s FROM cand GROUP BY qid),
cand_stats AS (
  SELECT c.qid, c.cid, c.d, q.s AS r_test, t.s AS r_train
  FROM cand c JOIN stats q ON c.qid = q.sid JOIN stats t ON c.cid = t.sid
)""",
)

SQL_HUBNESS_LS = _final_sql(
    "1.0 - exp(-(d * d) / (r_test * r_train))",
    extra_cte=""",
stats AS (SELECT qid AS sid, max(d) AS s FROM cand GROUP BY qid),
cand_stats AS (
  SELECT c.qid, c.cid, c.d, q.s AS r_test, t.s AS r_train
  FROM cand c JOIN stats q ON c.qid = q.sid JOIN stats t ON c.cid = t.sid
)""",
)

SQL_HUBNESS_NICDM = _final_sql(
    "d / sqrt(r_test * r_train)",
    extra_cte=""",
stats AS (SELECT qid AS sid, avg(d) AS s FROM cand GROUP BY qid),
cand_stats AS (
  SELECT c.qid, c.cid, c.d, q.s AS r_test, t.s AS r_train
  FROM cand c JOIN stats q ON c.qid = q.sid JOIN stats t ON c.cid = t.sid
)""",
)

SQL_HUBNESS_MP_NORMAL = _final_sql(
    f"1.0 - {_sf_sql('d', 'mu_i', 'sd_i')} * {_sf_sql('d', 'mu_j', 'sd_j')}",
    extra_cte=""",
stats AS (SELECT qid AS sid, avg(d) AS mu, stddev_pop(d) AS sd FROM cand GROUP BY qid),
cand_stats AS (
  SELECT c.qid, c.cid, c.d, q.mu AS mu_i, q.sd AS sd_i, t.mu AS mu_j, t.sd AS sd_j
  FROM cand c JOIN stats q ON c.qid = q.sid JOIN stats t ON c.cid = t.sid
)""",
)

# DisSimLocal, euclidean => squared=False (sqrt at the end), global shift.
SQL_HUBNESS_DSL = f"""
WITH {_CAND_SQL},
vex AS (
  SELECT id, unnest(vec) AS val, generate_subscripts(vec, 1) AS pos FROM v
),
cent AS (
  SELECT c.qid, x.pos, avg(x.val) AS cval
  FROM cand c JOIN vex x ON c.cid = x.id GROUP BY c.qid, x.pos
),
delta AS (
  SELECT ct.qid AS sid, sum((sv.val - ct.cval) * (sv.val - ct.cval)) AS dlt
  FROM cent ct JOIN vex sv ON ct.qid = sv.id AND ct.pos = sv.pos
  GROUP BY ct.qid
),
sq AS (
  SELECT c.qid, c.cid, c.d * c.d AS d2raw, qi.dlt AS d_i, tj.dlt AS d_j
  FROM cand c JOIN delta qi ON c.qid = qi.sid JOIN delta tj ON c.cid = tj.sid
),
shifted AS (
  SELECT qid, cid,
         (d2raw - d_i - d_j)
         - least((SELECT min(d2raw - d_i - d_j) FROM sq), 0.0) AS dd
  FROM sq
),
final AS (
  SELECT qid, cid, sqrt(dd) AS d2,
         row_number() OVER (PARTITION BY qid ORDER BY sqrt(dd), cid) AS r
  FROM shifted
)
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d2, 6) AS dist
FROM final WHERE r <= {TOP_K}
"""


# MP empiric (mutual_proximity.py:185-212): d'_ij = 1 - #{l in cand(i):
# d_il > d_ij AND dhat_j[c_il] > d_ij} / m, where dhat_j is j's sparse
# reverse-distance row with default max(rev dists of j) + 1e-6. Single
# source: the reverse candidate table IS the forward one. The sparse-row
# probe dhat_j[c_il] is a LEFT JOIN of (j, c_il) onto the candidate table
# with the per-j default; the counting l-loop is a self-join on qid. The
# count is integer-exact on both engines, so 6-dp hashes match as long as
# strict comparisons between DISTINCT pair distances agree — guaranteed at
# f64 given the knn oracle rows already match to <5e-7.
SQL_HUBNESS_MP_EMPIRIC = f"""
WITH {_CAND_SQL},
mcnt AS (SELECT qid, count(*) AS m FROM cand GROUP BY qid),
revmax AS (SELECT qid AS j, max(d) + 1e-6 AS defv FROM cand GROUP BY qid),
hits AS (
  SELECT f.qid, f.cid, f.d,
         CASE WHEN l.d > f.d AND coalesce(r.d, rm.defv) > f.d
              THEN 1 ELSE 0 END AS hit
  FROM cand f
  JOIN cand l ON l.qid = f.qid
  JOIN revmax rm ON rm.j = f.cid
  LEFT JOIN cand r ON r.qid = f.cid AND r.cid = l.cid
),
scored AS (
  SELECT h.qid, h.cid, 1.0 - (sum(h.hit)::DOUBLE / mc.m) AS d2
  FROM hits h JOIN mcnt mc ON mc.qid = h.qid
  GROUP BY h.qid, h.cid, mc.m
),
final AS (
  SELECT qid, cid, d2,
         row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS r
  FROM scored
)
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d2, 6) AS dist
FROM final WHERE r <= {TOP_K}
"""


def q_k_occurrence(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    nn = K.knn_join_pandas(emb, emb, TOP_K, "euclidean", exclude_self=True)
    n = _nrows(sf_dir, "embeddings")
    return A.k_occurrence(nn, n, TOP_K).select("entity_id", "k_occ")


SQL_K_OCCURRENCE = f"""
WITH {_PAIRS_SQL},
nn AS (SELECT qid, cid FROM fwd WHERE r <= {TOP_K}),
counts AS (SELECT cid, count(*) AS c FROM nn GROUP BY cid),
ids AS (SELECT DISTINCT vec_id AS entity_id FROM embeddings)
SELECT ids.entity_id, coalesce(counts.c, 0)::BIGINT AS k_occ
FROM ids LEFT JOIN counts ON ids.entity_id = counts.cid
"""


def q_hubness_measures(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    nn = K.knn_join_pandas(emb, emb, TOP_K, "euclidean", exclude_self=True)
    n = _nrows(sf_dir, "embeddings")
    m = A.hubness_score(nn, n_queries=n, target_samples=n, k=TOP_K,
                        return_value="all", n_cols=TOP_K)
    return m.select(*[F.round(c, 6).alias(c) for c in m.columns])


def q_atkinson_eps1(spark, sf_dir):
    """Atkinson with the reference's eps=1 geometric-mean branch
    (estimation.py:145-148); exercises the parametrized eps path."""
    emb = _emb(spark, sf_dir)
    nn = K.knn_join_pandas(emb, emb, TOP_K, "euclidean", exclude_self=True)
    n = _nrows(sf_dir, "embeddings")
    m = A.hubness_score(nn, n_queries=n, target_samples=n, k=TOP_K,
                        return_value="atkinson", atkinson_eps=1.0,
                        n_cols=TOP_K)
    return m.select(F.round("atkinson", 6).alias("atkinson"))


SQL_ATKINSON_EPS1 = f"""
WITH {_PAIRS_SQL},
nn AS (SELECT qid, cid FROM fwd WHERE r <= {TOP_K}),
counts AS (SELECT cid, count(*) AS c FROM nn GROUP BY cid),
ids AS (SELECT DISTINCT vec_id AS entity_id FROM embeddings),
occ AS (
  SELECT ids.entity_id, coalesce(counts.c, 0)::DOUBLE AS x
  FROM ids LEFT JOIN counts ON ids.entity_id = counts.cid
)
SELECT round(
  1.0 - exp(avg(CASE WHEN x <= 0 THEN '-infinity'::DOUBLE ELSE ln(x) END))
        / avg(x), 6) AS atkinson
FROM occ
"""


SQL_HUBNESS_MEASURES = f"""
WITH {_PAIRS_SQL},
nn AS (SELECT qid, cid FROM fwd WHERE r <= {TOP_K}),
counts AS (SELECT cid, count(*) AS c FROM nn GROUP BY cid),
ids AS (SELECT DISTINCT vec_id AS entity_id FROM embeddings),
occ AS (
  SELECT ids.entity_id, coalesce(counts.c, 0)::DOUBLE AS x
  FROM ids LEFT JOIN counts ON ids.entity_id = counts.cid
),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, entity_id) AS i FROM occ
),
agg AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, avg(x) AS mu,
         stddev_samp(x) AS sd1, max(x) AS mx,
         avg(sqrt(x)) AS m_half,
         sum(CASE WHEN x = 0 THEN 1 ELSE 0 END)::DOUBLE AS n_anti,
         sum(CASE WHEN x >= 2.0 * {TOP_K} THEN x ELSE 0 END) AS hub_sum,
         sum((2.0 * i - 1.0) * x) AS gini_num_part
  FROM ranked
),
mo AS (
  SELECT avg(pow(x - (SELECT mu FROM agg), 2)) AS m2,
         avg(pow(x - (SELECT mu FROM agg), 3)) AS m3,
         sum(abs(x - (SELECT mu FROM agg))) AS sad
  FROM occ
),
tn AS (
  SELECT (0.0 - mu) / sd1 AS a,
         exp(-0.5 * ((0.0 - mu) / sd1) * ((0.0 - mu) / sd1))
           / 2.5066282746310002 AS phi_a
  FROM agg
),
lamt AS (
  SELECT a, phi_a / (0.5 * {_erfc_sql('a / 1.4142135623730951')}) AS lam FROM tn
)
SELECT
  round(mo.m3 / pow(mo.m2, 1.5), 6) AS k_skewness,
  round(2.0 * lamt.lam + lamt.a * lamt.a * lamt.lam, 6) AS k_skewness_truncnorm,
  round(1.0 - pow(agg.m_half, 2.0) / agg.mu, 6) AS atkinson,
  round((agg.gini_num_part - agg.n * agg.sx) / (agg.n * agg.sx), 6) AS gini,
  round(0.5 * mo.sad / agg.sx, 6) AS robinhood,
  round(agg.n_anti / agg.n, 6) AS antihub_occurrence,
  round(agg.hub_sum / {TOP_K}.0 / agg.n, 6) AS hub_occurrence,
  round(agg.mx / agg.n / {TOP_K}.0, 6) AS groupie_ratio
FROM agg, mo, lamt
"""


def q_antihub_entities(spark, sf_dir):
    """Entities never retrieved as neighbors (A7, estimation.py:152-169)."""
    emb = _emb(spark, sf_dir)
    nn = K.knn_join_pandas(emb, emb, TOP_K, "euclidean", exclude_self=True)
    occ = A.k_occurrence(nn, _nrows(sf_dir, "embeddings"), TOP_K)
    return A.antihubs(occ).orderBy("entity_id")


SQL_ANTIHUB_ENTITIES = f"""
WITH {_PAIRS_SQL},
nn AS (SELECT qid, cid FROM fwd WHERE r <= {TOP_K}),
counts AS (SELECT cid, count(*) AS c FROM nn GROUP BY cid),
ids AS (SELECT DISTINCT vec_id AS entity_id FROM embeddings)
SELECT ids.entity_id
FROM ids LEFT JOIN counts ON ids.entity_id = counts.cid
WHERE coalesce(counts.c, 0) = 0
ORDER BY ids.entity_id
"""


def q_hub_entities(spark, sf_dir):
    """Entities with k-occurrence >= 2k (A8, estimation.py:172-194)."""
    emb = _emb(spark, sf_dir)
    nn = K.knn_join_pandas(emb, emb, TOP_K, "euclidean", exclude_self=True)
    occ = A.k_occurrence(nn, _nrows(sf_dir, "embeddings"), TOP_K)
    return A.hubs(occ, TOP_K).orderBy("entity_id")


SQL_HUB_ENTITIES = f"""
WITH {_PAIRS_SQL},
nn AS (SELECT qid, cid FROM fwd WHERE r <= {TOP_K}),
counts AS (SELECT cid, count(*) AS c FROM nn GROUP BY cid)
SELECT cid AS entity_id FROM counts
WHERE c >= 2.0 * {TOP_K}
ORDER BY cid
"""


def q_hits_at_k(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    nn = K.knn_join_pandas(emb, emb, N_CAND, "euclidean", exclude_self=True)
    # deterministic gold: each entity -> smallest other id with same label
    a = emb.select(F.col("id").alias("src_id"), F.col("label").alias("la"))
    b = emb.select(F.col("id").alias("oid"), F.col("label").alias("lb"))
    gold = (
        a.join(b, (F.col("la") == F.col("lb")) & (F.col("src_id") != F.col("oid")))
        .groupBy("src_id")
        .agg(F.min("oid").alias("tgt_id"))
    )
    # hash an exact integer-division micro-ratio, not a rounded double
    # (1-ulp cross-engine hazard; see corpus_stats)
    return E.hits_at_k(nn, gold, ks=(1, 5, 10)).select(
        "k",
        F.expr(
            "(n_hits div n_gold) * 1000000"
            " + ((n_hits % n_gold) * 1000000) div n_gold"
        ).cast("bigint").alias("hits_micro"),
    )


SQL_HITS_AT_K = f"""
WITH {_PAIRS_SQL},
nn AS (SELECT qid, cid, r FROM fwd WHERE r <= {N_CAND}),
gold AS (
  SELECT a.vec_id AS src_id, min(b.vec_id) AS tgt_id
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id <> b.vec_id
  GROUP BY a.vec_id
),
matched AS (
  SELECT g.src_id, min(nn.r) AS best_rank
  FROM gold g JOIN nn ON nn.qid = g.src_id AND nn.cid = g.tgt_id
  GROUP BY g.src_id
),
ks AS (SELECT unnest([1, 5, 10]) AS k),
c AS (
  SELECT ks.k::INT AS k,
         coalesce(sum(CASE WHEN m.best_rank <= ks.k THEN 1 ELSE 0 END), 0)
           ::BIGINT AS n_hits,
         (SELECT count(*) FROM gold)::BIGINT AS n_gold
  FROM ks LEFT JOIN matched m ON true
  GROUP BY ks.k
)
SELECT k,
       ((n_hits // n_gold) * 1000000
        + ((n_hits % n_gold) * 1000000) // n_gold)::BIGINT AS hits_micro
FROM c
"""


def q_openea_split(spark, sf_dir):
    """S3 loader semantics (io/data_loading.py:23-72): membership filter +
    dense re-numbering. 'kg1' = even vec_ids, re-id ascending by id.

    Routes through the SCALABLE renumber (functions/ranking.
    dense_row_number: range-bucketed, bucket-local windows) — never a
    global single-partition ``Window.orderBy``. Output over unique ids is
    identical to row_number() - 1, so the oracle is unchanged; the plan is
    additionally asserted in tools/explain_plans.py."""
    from kiez_spark.functions.ranking import dense_row_number

    emb = _emb(spark, sf_dir)
    kg1 = emb.filter(F.col("id") % 2 == 0)
    return dense_row_number(kg1, "id", out_col="new_id").select(
        F.col("new_id").cast("int").alias("new_id"),
        F.col("id").alias("orig_id"),
    )


SQL_OPENEA_SPLIT = """
SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS new_id,
       vec_id AS orig_id
FROM embeddings WHERE vec_id % 2 = 0
"""


def q_hubness_csls_dual(spark, sf_dir):
    """Dual-source CSLS: source = even vec_ids, target = odd vec_ids —
    exercises the bidirectional fit semantics (SURVEY.md §1.3): reverse
    t->s statistics parametrize the forward s->t transform, and no
    self-exclusion applies (disjoint entity sets)."""
    emb = _emb(spark, sf_dir)
    src = emb.filter(F.col("id") % 2 == 0)
    tgt = emb.filter(F.col("id") % 2 == 1)
    eng = HubnessKnn(
        PipelineConfig(n_candidates=N_CAND, k=TOP_K, metric="euclidean",
                       hubness="csls", tier="pandas")
    )
    eng.fit(src.select("id", "vec"), tgt.select("id", "vec"))
    nn = eng.kneighbors(TOP_K)
    return nn.select(
        "query_id", "cand_id", F.col("rank"), F.round("dist", 6).alias("dist")
    )


SQL_HUBNESS_CSLS_DUAL = f"""
WITH {_V_SQL},
src AS (SELECT * FROM v WHERE id % 2 = 0),
tgt AS (SELECT * FROM v WHERE id % 2 = 1),
fwd_pairs AS (
  SELECT s.id AS qid, t.id AS cid, list_distance(s.vec, t.vec) AS d
  FROM src s, tgt t
),
fwd AS (
  SELECT qid, cid, d,
         row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM fwd_pairs
),
cand AS (SELECT qid, cid, d FROM fwd WHERE r <= {N_CAND}),
rev_pairs AS (
  SELECT t.id AS qid, s.id AS cid, list_distance(t.vec, s.vec) AS d
  FROM tgt t, src s
),
rev AS (
  SELECT qid, cid, d,
         row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM rev_pairs
),
rcand AS (SELECT qid, cid, d FROM rev WHERE r <= {N_CAND}),
r_test AS (SELECT qid, avg(d) AS s FROM cand GROUP BY qid),
r_train AS (SELECT qid AS tid, avg(d) AS s FROM rcand GROUP BY qid),
scored AS (
  SELECT c.qid, c.cid, 2.0 * c.d - q.s - t.s AS d2
  FROM cand c JOIN r_test q ON c.qid = q.qid JOIN r_train t ON c.cid = t.tid
),
final AS (
  SELECT qid, cid, d2,
         row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS r
  FROM scored
)
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d2, 6) AS dist
FROM final WHERE r <= {TOP_K}
"""


def q_hubness_ls_dual(spark, sf_dir):
    """Dual-source LocalScaling (same split as the dual CSLS query):
    r_test = max forward candidate distance per source query, r_train =
    max reverse candidate distance per target entity — the second
    transform certified end-to-end in the bidirectional-fit regime."""
    emb = _emb(spark, sf_dir)
    src = emb.filter(F.col("id") % 2 == 0)
    tgt = emb.filter(F.col("id") % 2 == 1)
    eng = HubnessKnn(
        PipelineConfig(n_candidates=N_CAND, k=TOP_K, metric="euclidean",
                       hubness="ls", tier="pandas")
    )
    eng.fit(src.select("id", "vec"), tgt.select("id", "vec"))
    nn = eng.kneighbors(TOP_K)
    return nn.select(
        "query_id", "cand_id", F.col("rank"), F.round("dist", 6).alias("dist")
    )


SQL_HUBNESS_LS_DUAL = f"""
WITH {_V_SQL},
src AS (SELECT * FROM v WHERE id % 2 = 0),
tgt AS (SELECT * FROM v WHERE id % 2 = 1),
fwd_pairs AS (
  SELECT s.id AS qid, t.id AS cid, list_distance(s.vec, t.vec) AS d
  FROM src s, tgt t
),
fwd AS (
  SELECT qid, cid, d,
         row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM fwd_pairs
),
cand AS (SELECT qid, cid, d FROM fwd WHERE r <= {N_CAND}),
rev_pairs AS (
  SELECT t.id AS qid, s.id AS cid, list_distance(t.vec, s.vec) AS d
  FROM tgt t, src s
),
rev AS (
  SELECT qid, cid, d,
         row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM rev_pairs
),
rcand AS (SELECT qid, cid, d FROM rev WHERE r <= {N_CAND}),
r_test AS (SELECT qid, max(d) AS s FROM cand GROUP BY qid),
r_train AS (SELECT qid AS tid, max(d) AS s FROM rcand GROUP BY qid),
scored AS (
  SELECT c.qid, c.cid, 1.0 - exp(-(c.d * c.d) / (q.s * t.s)) AS d2
  FROM cand c JOIN r_test q ON c.qid = q.qid JOIN r_train t ON c.cid = t.tid
),
final AS (
  SELECT qid, cid, d2,
         row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS r
  FROM scored
)
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d2, 6) AS dist
FROM final WHERE r <= {TOP_K}
"""


def _dual_query(method: str):
    def fn(spark, sf_dir):
        emb = _emb(spark, sf_dir)
        src = emb.filter(F.col("id") % 2 == 0)
        tgt = emb.filter(F.col("id") % 2 == 1)
        eng = HubnessKnn(
            PipelineConfig(n_candidates=N_CAND, k=TOP_K, metric="euclidean",
                           hubness=method, tier="pandas")
        )
        eng.fit(src.select("id", "vec"), tgt.select("id", "vec"))
        return eng.kneighbors(TOP_K).select(
            "query_id", "cand_id", F.col("rank"),
            F.round("dist", 6).alias("dist"),
        )

    return fn


def _dual_sql(stat: str, score: str, extra_stats: str = "") -> str:
    """Dual-source transform skeleton: forward/reverse exact kNN over
    the even/odd split, per-side candidate statistics, rescore, re-rank
    — the textual twin of the bidirectional HubnessKnn flow."""
    return f"""
WITH {_V_SQL},
src AS (SELECT * FROM v WHERE id % 2 = 0),
tgt AS (SELECT * FROM v WHERE id % 2 = 1),
fwd_pairs AS (
  SELECT s.id AS qid, t.id AS cid, list_distance(s.vec, t.vec) AS d
  FROM src s, tgt t
),
fwd AS (
  SELECT qid, cid, d,
         row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM fwd_pairs
),
cand AS (SELECT qid, cid, d FROM fwd WHERE r <= {N_CAND}),
rev_pairs AS (
  SELECT t.id AS qid, s.id AS cid, list_distance(t.vec, s.vec) AS d
  FROM tgt t, src s
),
rev AS (
  SELECT qid, cid, d,
         row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM rev_pairs
),
rcand AS (SELECT qid, cid, d FROM rev WHERE r <= {N_CAND}),
r_test AS (SELECT qid, {stat} FROM cand GROUP BY qid),
r_train AS (SELECT qid AS tid, {stat} FROM rcand GROUP BY qid),
scored AS (
  SELECT c.qid, c.cid, {score} AS d2
  FROM cand c JOIN r_test q ON c.qid = q.qid JOIN r_train t ON c.cid = t.tid
),
final AS (
  SELECT qid, cid, d2,
         row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS r
  FROM scored
)
SELECT qid AS query_id, cid AS cand_id, r::INT AS rank, round(d2, 6) AS dist
FROM final WHERE r <= {TOP_K}
"""


SQL_HUBNESS_NICDM_DUAL = _dual_sql(
    "avg(d) AS s", "c.d / sqrt(q.s * t.s)"
)

SQL_HUBNESS_MP_NORMAL_DUAL = _dual_sql(
    "avg(d) AS mu, stddev_pop(d) AS sd",
    "1.0 - " + _sf_sql("c.d", "q.mu", "q.sd") + " * "
    + _sf_sql("c.d", "t.mu", "t.sd"),
)


# ------------------------------------------------------------- dedup / text


def q_exact_dup_groups(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dup = d.unionByName(
        d.select((F.col("doc_id") + 200000).alias("doc_id"), "text")
    )
    return D.exact_duplicates(dup).select("dup_hash", "n_docs", "keep_id")


SQL_EXACT_DUP_GROUPS = """
WITH dup AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 200000, text FROM documents
)
SELECT sha256(text) AS dup_hash, count(*) AS n_docs, min(doc_id) AS keep_id
FROM dup GROUP BY sha256(text) HAVING count(*) > 1
"""


def _minhash_sql_values(n_hashes: int, seed: int = 42) -> str:
    params = T.minhash_params(n_hashes, seed)
    rows = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(params))
    return f"(VALUES {rows}) hp(h_idx, a, b)"


def q_minhash_signatures(spark, sf_dir):
    sigs = D.minhash_signatures(_docs(spark, sf_dir), n_hashes=16)
    return sigs.select(
        "doc_id", F.posexplode("sig").alias("h_idx", "h_val")
    ).select("doc_id", "h_idx", "h_val")


SQL_MINHASH_SIGNATURES = f"""
WITH sh AS (
  SELECT doc_id,
         {_hashed_shingles_sql(_TOKENS_SQL.format(col='text'))} AS s
  FROM documents
)
SELECT sh.doc_id, hp.h_idx::INT AS h_idx,
       coalesce(
         list_min(list_transform(sh.s,
           x -> (hp.a * (x % 1000000007) + hp.b) % 1000000007)),
         1000000007) AS h_val
FROM sh, {_minhash_sql_values(16)}
"""


_SIGS2_SQL = f"""
{_DOCS2_SQL},
sh AS (
  SELECT doc_id,
         {_hashed_shingles_sql(_TOKENS_SQL.format(col='text'))} AS s
  FROM docs2
),
sigv AS (
  SELECT sh.doc_id, hp.h_idx,
         coalesce(
           list_min(list_transform(sh.s,
             x -> (hp.a * (x % 1000000007) + hp.b) % 1000000007)),
           1000000007) AS h_val
  FROM sh, {_minhash_sql_values(16)}
),
bands AS (
  SELECT doc_id, h_idx // 4 AS band,
         string_agg(h_val::VARCHAR, '_' ORDER BY h_idx) AS band_key
  FROM sigv GROUP BY doc_id, h_idx // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS src_id, b.doc_id AS tgt_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
jac AS (
  SELECT c.src_id, c.tgt_id,
         CASE WHEN (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) > 0
              THEN len(list_intersect(sa.s, sb.s))::DOUBLE
                   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
              ELSE 0.0 END AS jaccard
  FROM cand c JOIN sh sa ON c.src_id = sa.doc_id JOIN sh sb ON c.tgt_id = sb.doc_id
)
"""


def q_minhash_lsh_pairs(spark, sf_dir):
    pairs = D.minhash_lsh_pairs(
        _docs2(spark, sf_dir), n_hashes=16, bands=4, threshold=0.5
    )
    return pairs.select("src_id", "tgt_id", F.round("jaccard", 6).alias("jaccard"))


SQL_MINHASH_LSH_PAIRS = f"""
WITH {_SIGS2_SQL}
SELECT src_id, tgt_id, round(jaccard, 6) AS jaccard
FROM jac WHERE jaccard >= 0.5
"""


def q_ngram_jaccard_pairs(spark, sf_dir):
    pairs = D.ngram_jaccard_pairs(
        _docs2(spark, sf_dir), threshold=0.6, max_doc_freq=10_000_000
    )
    return pairs.select("src_id", "tgt_id", F.round("jaccard", 6).alias("jaccard"))


SQL_NGRAM_JACCARD_PAIRS = f"""
WITH {_DOCS2_SQL},
sh AS (
  SELECT doc_id,
         {_hashed_shingles_sql(_TOKENS_SQL.format(col='text'))} AS s
  FROM docs2
)
SELECT a.doc_id AS src_id, b.doc_id AS tgt_id,
       round(len(list_intersect(a.s, b.s))::DOUBLE
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
FROM sh a, sh b
WHERE a.doc_id < b.doc_id
  AND len(list_intersect(a.s, b.s))::DOUBLE
      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6
"""


def q_jaccard_prefix_pairs(spark, sf_dir):
    """AllPairs/PPJoin prefix-filtered exact Jaccard: registered against
    the SAME brute-force oracle SQL as ngram_jaccard_pairs — a green
    hash row IS the losslessness proof of the prefix+size filters."""
    pairs = D.jaccard_prefix_pairs(_docs2(spark, sf_dir), threshold=0.6)
    return pairs.select(
        "src_id", "tgt_id", F.round("jaccard", 6).alias("jaccard")
    )


# Winnowing (MOSS) fingerprints — the DuckDB twin replays the Spark
# winnow kernel with list comprehensions: char k-gram md5 hashes of the
# normalized text, sliding-window minima, distinct. The value-set
# formulation is tie-rule-independent (see operators/dedup.py
# _winnow_fps_kernel), so the oracle is exact.
_WINNOW_K = 8
_WINNOW_W = 6

_WINNOW_FPS_SQL = f"""
norm AS (
  SELECT doc_id,
         lower(regexp_replace(coalesce(text, ''), '\\s+', '', 'g')) AS t
  FROM {{src}}
),
grams AS (
  SELECT doc_id,
         CASE WHEN length(t) >= {_WINNOW_K}
              THEN [ ('0x' || substr(md5(t[i:i+{_WINNOW_K - 1}]), 1, 15))::BIGINT
                     for i in range(1, length(t) - {_WINNOW_K} + 2) ]
              ELSE []::BIGINT[] END AS h
  FROM norm
),
fps AS (
  SELECT doc_id,
         CASE WHEN len(h) = 0 THEN []::BIGINT[]
              WHEN len(h) < {_WINNOW_W} THEN [list_min(h)]
              ELSE list_distinct(
                [ list_min(h[j:j+{_WINNOW_W - 1}])
                  for j in range(1, len(h) - {_WINNOW_W} + 2) ])
         END AS f
  FROM grams
)
"""


def q_winnow_fingerprints(spark, sf_dir):
    return D.winnow_fingerprints(
        _docs(spark, sf_dir), k=_WINNOW_K, window=_WINNOW_W
    )


SQL_WINNOW_FINGERPRINTS = f"""
WITH {_WINNOW_FPS_SQL.format(src='documents')}
SELECT doc_id, unnest(f) AS fp FROM fps
"""


def q_winnow_pairs(spark, sf_dir):
    return D.winnow_pairs(
        _docs2(spark, sf_dir),
        k=_WINNOW_K,
        window=_WINNOW_W,
        min_common=2,
        min_overlap=0.5,
        max_doc_freq=10_000_000,
    )


SQL_WINNOW_PAIRS = f"""
WITH {_DOCS2_SQL},
{_WINNOW_FPS_SQL.format(src='docs2')},
posting AS (SELECT doc_id, unnest(f) AS fp FROM fps),
sized AS (SELECT doc_id, count(*) AS n_fp FROM posting GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
  FROM posting a JOIN posting b USING (fp)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.a_id, c.b_id, c.common,
       round(c.common::DOUBLE / least(sa.n_fp, sb.n_fp), 6) AS overlap
FROM common c
JOIN sized sa ON sa.doc_id = c.a_id
JOIN sized sb ON sb.doc_id = c.b_id
WHERE c.common >= 2
  AND c.common::DOUBLE / least(sa.n_fp, sb.n_fp) >= 0.5
"""


def q_incremental_winnow(spark, sf_dir):
    """Daily-increment clone check: the mutated batch (first token ->
    'zzz', doc_id + 100000) joined against the corpus winnow index —
    corpus x corpus never pairs. The oracle computes fingerprints over
    the docs2 union once and splits by id, which is equivalent because a
    document's fingerprint set is side-independent."""
    corpus = _docs(spark, sf_dir).select("doc_id", "text")
    new = corpus.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"^\S+", "zzz").alias("text"),
    )
    return D.winnow_join(
        new,
        corpus,
        k=_WINNOW_K,
        window=_WINNOW_W,
        min_common=2,
        min_overlap=0.5,
        max_doc_freq=10_000_000,
    )


SQL_INCREMENTAL_WINNOW = f"""
WITH {_DOCS2_SQL},
{_WINNOW_FPS_SQL.format(src='docs2')},
posting AS (SELECT doc_id, unnest(f) AS fp FROM fps),
sized AS (SELECT doc_id, count(*) AS n_fp FROM posting GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS common
  FROM posting a JOIN posting b USING (fp)
  WHERE a.doc_id >= 100000 AND b.doc_id < 100000
  GROUP BY 1, 2
)
SELECT c.new_id, c.corpus_id, c.common,
       round(c.common::DOUBLE / least(sa.n_fp, sb.n_fp), 6) AS overlap
FROM common c
JOIN sized sa ON sa.doc_id = c.new_id
JOIN sized sb ON sb.doc_id = c.corpus_id
WHERE c.common >= 2
  AND c.common::DOUBLE / least(sa.n_fp, sb.n_fp) >= 0.5
"""


def q_repo_clone_pairs(spark, sf_dir):
    """Group-level (repo-level) clone detection: each source's documents
    plus a mutated twin group ('m_'||source, first token -> 'zzz') —
    every twin pair must surface with high fingerprint containment."""
    d = _docs(spark, sf_dir).select("doc_id", "text", "source")
    mut = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"^\S+", "zzz").alias("text"),
        F.concat(F.lit("m_"), F.col("source")).alias("source"),
    )
    return D.winnow_group_pairs(
        d.unionByName(mut),
        group_col="source",
        k=_WINNOW_K,
        window=_WINNOW_W,
        min_common=2,
        min_overlap=0.3,
        max_group_freq=10_000_000,
    )


SQL_REPO_CLONE_PAIRS = f"""
WITH srcdocs AS (
  SELECT source AS doc_id, text FROM documents
  UNION ALL
  SELECT 'm_' || source AS doc_id, regexp_replace(text, '^\\S+', 'zzz') AS text
  FROM documents
),
{_WINNOW_FPS_SQL.format(src='srcdocs')},
posting AS (
  SELECT DISTINCT doc_id, fp
  FROM (SELECT doc_id, unnest(f) AS fp FROM fps)
),
sized AS (SELECT doc_id, count(*) AS n_fp FROM posting GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS a_grp, b.doc_id AS b_grp, count(*) AS common
  FROM posting a JOIN posting b USING (fp)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.a_grp, c.b_grp, c.common,
       round(c.common::DOUBLE / least(sa.n_fp, sb.n_fp), 6) AS overlap
FROM common c
JOIN sized sa ON sa.doc_id = c.a_grp
JOIN sized sb ON sb.doc_id = c.b_grp
WHERE c.common >= 2
  AND c.common::DOUBLE / least(sa.n_fp, sb.n_fp) >= 0.3
"""


def q_simhash_fingerprints(spark, sf_dir):
    return D.simhash_fingerprints(_docs(spark, sf_dir)).select("doc_id", "simhash")


SQL_SIMHASH_FINGERPRINTS = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS_SQL.format(col='text')}) AS t FROM documents
),
h AS (SELECT doc_id, {_H_SQL.format(s='t')} AS hv FROM tok),
votes AS (
  SELECT doc_id, b.i AS bit,
         sum(CASE WHEN (hv >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, generate_series(0, 59) b(i) GROUP BY doc_id, b.i
)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
FROM votes GROUP BY doc_id
"""


def q_simhash_pairs(spark, sf_dir):
    return D.simhash_pairs(
        _docs2(spark, sf_dir), max_hamming=12, bands=6
    ).select("src_id", "tgt_id", "hamming")


SQL_SIMHASH_PAIRS = f"""
WITH {_DOCS2_SQL},
tok AS (SELECT doc_id, unnest({_TOKENS_SQL.format(col='text')}) AS t FROM docs2),
h AS (SELECT doc_id, {_H_SQL.format(s='t')} AS hv FROM tok),
votes AS (
  SELECT doc_id, b.i AS bit,
         sum(CASE WHEN (hv >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, generate_series(0, 59) b(i) GROUP BY doc_id, b.i
),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS sh
  FROM votes GROUP BY doc_id
),
banded AS (
  SELECT doc_id, sh, b.i AS band, (sh >> (b.i * 10)) & 1023 AS band_key
  FROM fp, generate_series(0, 5) b(i)
),
cand AS (
  SELECT DISTINCT a.doc_id AS src_id, b.doc_id AS tgt_id,
         bit_count(xor(a.sh, b.sh)) AS hamming
  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
)
SELECT src_id, tgt_id, hamming FROM cand WHERE hamming <= 12
"""


def q_embedding_neardup(spark, sf_dir):
    # approx=False pins the exact tier for the hash check; the operator
    # default auto-switches to the LSH tier past 100k rows
    emb = _emb(spark, sf_dir)
    return D.embedding_neardup_pairs(
        emb, max_cos_dist=0.75, approx=False
    ).select("src_id", "tgt_id", F.round("cos_dist", 6).alias("cos_dist"))


SQL_EMBEDDING_NEARDUP = f"""
WITH {_V_SQL}
SELECT a.id AS src_id, b.id AS tgt_id,
       round(1.0 - list_cosine_similarity(a.vec, b.vec), 6) AS cos_dist
FROM v a, v b
WHERE a.id < b.id AND 1.0 - list_cosine_similarity(a.vec, b.vec) <= 0.75
"""


def q_token_counts(spark, sf_dir):
    return TA.token_counts(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens", "n_chars"
    )


SQL_TOKEN_COUNTS = f"""
SELECT doc_id, len({_TOKENS_SQL.format(col='text')})::INT AS n_tokens,
       length(text)::INT AS n_chars
FROM documents
"""


def q_quality_features(spark, sf_dir):
    return TA.quality_features(_docs(spark, sf_dir))


def _stop_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
    return (
        f"len(list_filter({_TOKENS_SQL.format(col='text')},"
        f" t -> list_contains([{words}], t)))"
    )


SQL_QUALITY_FEATURES = f"""
WITH base AS (
  SELECT doc_id,
         length(text)::DOUBLE AS n_chars,
         len({_TOKENS_SQL.format(col='text')})::DOUBLE AS n_tokens,
         length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))::DOUBLE AS alnum,
         {_stop_sql('en')}::DOUBLE AS stop_en,
         len(list_distinct({_TOKENS_SQL.format(col='text')}))::DOUBLE AS uniq
  FROM documents
)
SELECT doc_id, n_chars, n_tokens,
  round(CASE WHEN n_tokens > 0 THEN alnum / n_tokens ELSE 0.0 END, 6) AS avg_token_len,
  round(CASE WHEN n_chars > 0 THEN alnum / n_chars ELSE 0.0 END, 6) AS alnum_ratio,
  round(CASE WHEN n_tokens > 0 THEN stop_en / n_tokens ELSE 0.0 END, 6) AS stop_ratio_en,
  round(CASE WHEN n_tokens > 0 THEN uniq / n_tokens ELSE 0.0 END, 6) AS uniq_ratio,
  round(least(1.0, least(n_tokens / 20.0, 1.0) * 0.4
        + (CASE WHEN n_chars > 0 THEN alnum / n_chars ELSE 0.0 END) * 0.3
        + (CASE WHEN n_tokens > 0 THEN uniq / n_tokens ELSE 0.0 END) * 0.3), 6)
    AS quality
FROM base
"""


def q_lang_id(spark, sf_dir):
    return TA.lang_id(_docs(spark, sf_dir))


def _langid_sql() -> str:
    langs = sorted(T.STOPWORDS)
    hits = ", ".join(f"{_stop_sql(lang)} AS h_{lang}" for lang in langs)
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    pred = "'und'"
    for lang in reversed(langs):
        pred = f"CASE WHEN h_{lang} = best AND best > 0 THEN '{lang}' ELSE {pred} END"
    return f"""
WITH hits AS (SELECT doc_id, {hits} FROM documents),
b AS (SELECT *, {best} AS best FROM hits)
SELECT doc_id, {pred} AS lang_pred, best::INT AS lang_hits FROM b
"""


SQL_LANG_ID = _langid_sql()


def q_fingerprints(spark, sf_dir):
    return TA.fingerprints(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


SQL_FINGERPRINTS = f"""
SELECT doc_id,
  list_reduce(
    list_prepend(0::BIGINT,
      list_transform({_TOKENS_SQL.format(col='text')},
                     t -> {_H_SQL.format(s='t')} % 1000000007)),
    (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
FROM documents
"""


def q_cc_clusters(spark, sf_dir):
    """Connected components over the minhash near-dup graph of docs2."""
    docs2 = _docs2(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(docs2, n_hashes=16, bands=4, threshold=0.5)
    nodes = docs2.select(F.col("doc_id").alias("id"))
    return CC.connected_components(pairs, nodes).select("id", "component")


_CC_CTES_SQL = f"""WITH RECURSIVE {_SIGS2_SQL},
edges AS (SELECT src_id AS u, tgt_id AS v FROM jac WHERE jaccard >= 0.5),
sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
reach(a, b) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
),
comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
assign AS (
  SELECT d.doc_id AS id, coalesce(comp.component, d.doc_id) AS component
  FROM docs2 d LEFT JOIN comp ON d.doc_id = comp.id
)"""

SQL_CC_CLUSTERS = f"""
{_CC_CTES_SQL}
SELECT id, component FROM assign
"""


def q_component_size_histogram(spark, sf_dir):
    """Component-size distribution of the docs2 near-dup clustering —
    the giant-component health check (every planted pair makes a size-2
    component; anything larger flags transitive chaining)."""
    docs2 = _docs2(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(docs2, n_hashes=16, bands=4, threshold=0.5)
    nodes = docs2.select(F.col("doc_id").alias("id"))
    assign = CC.connected_components(pairs, nodes).select("id", "component")
    return CC.component_size_histogram(assign)


SQL_COMPONENT_SIZE_HISTOGRAM = f"""
{_CC_CTES_SQL},
sizes AS (SELECT component, count(*) AS size FROM assign GROUP BY 1)
SELECT size, count(*) AS n_components FROM sizes GROUP BY 1
"""


def q_er_bcubed(spark, sf_dir):
    """B-cubed precision/recall/F1 of the docs2 near-dup CC clustering
    against (a) the intrinsic entity gold (doc and its planted mutated
    copy share an entity) and (b) a deliberately 4x-coarser entity
    grouping — the second row exercises the metric at non-trivial
    fractional values (pred ⊂ gold there, so precision stays 1 while
    recall measures the refinement). Record-averaged sums are f64 on
    both engines with the same per-row division shape; 6-dp rounding
    absorbs summation-order ulps (the manhattan-class convention)."""
    docs2 = _docs2(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(docs2, n_hashes=16, bands=4, threshold=0.5)
    nodes = docs2.select(F.col("doc_id").alias("id"))
    pred = CC.connected_components(pairs, nodes).select("id", "component")
    entity = (
        F.when(F.col("id") >= 100000, F.col("id") - 100000)
        .otherwise(F.col("id"))
        .cast("bigint")
    )
    base = docs2.select(F.col("doc_id").alias("id"))
    gold_entity = base.select("id", entity.alias("component"))
    gold_coarse = base.select(
        "id", F.expr(
            "CAST((CASE WHEN id >= 100000 THEN id - 100000 ELSE id END)"
            " DIV 4 AS BIGINT)"
        ).alias("component")
    )
    out = None
    for kind, gold in (("coarse4", gold_coarse), ("entity", gold_entity)):
        row = E.bcubed(pred, gold).select(
            F.lit(kind).alias("gold_kind"),
            F.round("b3_precision", 6).alias("b3_precision"),
            F.round("b3_recall", 6).alias("b3_recall"),
            F.round("b3_f1", 6).alias("b3_f1"),
            "n_records",
        )
        out = row if out is None else out.unionByName(row)
    return out


SQL_ER_BCUBED = f"""
WITH RECURSIVE {_SIGS2_SQL},
edges AS (SELECT src_id AS u, tgt_id AS v FROM jac WHERE jaccard >= 0.5),
sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
reach(a, b) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
),
comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
pred AS (
  SELECT d.doc_id AS id, coalesce(comp.component, d.doc_id) AS c
  FROM docs2 d LEFT JOIN comp ON d.doc_id = comp.id
),
base AS (
  SELECT id, c,
         CASE WHEN id >= 100000 THEN id - 100000 ELSE id END AS entity
  FROM pred
),
b3 AS (
  SELECT 'entity' AS gold_kind, id, c, entity AS g FROM base
  UNION ALL
  SELECT 'coarse4' AS gold_kind, id, c, entity // 4 AS g FROM base
),
inter AS (SELECT gold_kind, c, g, count(*) AS ncg FROM b3 GROUP BY 1, 2, 3),
szc AS (SELECT gold_kind, c, count(*) AS nc FROM b3 GROUP BY 1, 2),
szg AS (SELECT gold_kind, g, count(*) AS ng FROM b3 GROUP BY 1, 2),
per AS (
  SELECT i.gold_kind, i.ncg, szc.nc, szg.ng
  FROM inter i
  JOIN szc ON i.gold_kind = szc.gold_kind AND i.c = szc.c
  JOIN szg ON i.gold_kind = szg.gold_kind AND i.g = szg.g
),
agg AS (
  SELECT gold_kind,
         sum(ncg * ncg / nc) AS sp,
         sum(ncg * ncg / ng) AS sr,
         sum(ncg) AS n
  FROM per GROUP BY gold_kind
)
SELECT gold_kind,
       round(sp / n, 6) AS b3_precision,
       round(sr / n, 6) AS b3_recall,
       round(2 * (sp / n) * (sr / n) / ((sp / n) + (sr / n)), 6) AS b3_f1,
       n::BIGINT AS n_records
FROM agg
"""


# ------------------------------------------------------- generic relational


def q_events_hourly(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


SQL_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_tpch_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 6).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("sum_disc_price"),
            # l_quantity is integer-valued, so its sum casts to bigint
            # exactly; the mean is hashed as an exact integer-division
            # micro value, never a rounded double ratio (1-ulp hazard)
            F.sum("l_quantity").cast("bigint").alias("_qty_i"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn(
            "avg_qty_micro",
            F.expr(
                "(_qty_i div count_order) * 1000000"
                " + ((_qty_i % count_order) * 1000000) div count_order"
            ).cast("bigint"),
        )
        .drop("_qty_i")
    )


SQL_TPCH_Q1 = """
WITH a AS (
  SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 6) AS sum_qty,
         round(sum(l_extendedprice), 6) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
         sum(l_quantity)::BIGINT AS qty_i,
         count(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= '1998-09-02'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
       count_order,
       ((qty_i // count_order) * 1000000
        + ((qty_i % count_order) * 1000000) // count_order)::BIGINT
         AS avg_qty_micro
FROM a
"""


def q_tpch_q3(spark, sf_dir):
    """Shipping-priority join (customer x orders x lineitem) — exercises
    multi-table broadcast/shuffle join planning; top-10 by revenue with
    deterministic tie-break."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("2001-01-01"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.lit("2001-01-01"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


SQL_TPCH_Q3 = """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       o_orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < '2001-01-01'
  AND l_shipdate > '2001-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_lsh_recall_report(spark, sf_dir):
    """Exact-vs-approximate agreement as a first-class result (the
    reference's faiss Flat-vs-ANN test semantic, test_faiss.py:22-46):
    recall of the LSH tier against exact cosine top-k, overall and on the
    truly-near pair subset LSH is designed for."""
    emb = _emb(spark, sf_dir)
    exact = K.knn_join_pandas(emb, emb, TOP_K, "cosine", exclude_self=True)
    approx = K.topk(
        L.lsh_candidates(emb, emb, "cosine", n_tables=8, n_bits=12,
                         exclude_self=True),
        TOP_K,
    )
    overall = L.lsh_recall(approx, exact)
    near = L.lsh_recall(approx, exact.filter(F.col("dist") < 0.6))
    return spark.createDataFrame(
        [(round(overall, 6), round(near, 6))],
        "recall_overall double, recall_near double",
    )


def q_mp_empiric(spark, sf_dir):
    return _hubness_query("mp_empiric")(spark, sf_dir)


# ------------------------------------------------------------- streaming


def _write_stream_batches(batches, d: str) -> None:
    """Write each batch as ONE parquet file under ``d`` with explicitly
    spaced mtimes so the file source's oldest-first ordering is
    deterministic — no sleeping between writes (the old
    mtime-by-wall-clock scheme cost 1.1s per batch)."""
    from kiez_spark.streaming.files import write_batch_file

    for i, b in enumerate(batches):
        write_batch_file(b, d, i)


def _stream_batches_to_memory(spark, schema: str, batches, build):
    """Deterministic micro-batch harness: write each batch as one parquet
    file (explicit mtime spacing, maxFilesPerTrigger=1 -> one micro-batch
    each), run ``build(readStream)`` into a memory sink with an
    availableNow trigger, return the sink table. The input is a REAL
    file-source stream, so state transitions across micro-batches are
    exercised. The memory sink materializes on the driver, so the temp
    input/checkpoint dirs are removed before returning."""
    import shutil
    import tempfile
    import uuid

    d = tempfile.mkdtemp(prefix="kiez_stream_in_")
    ck = tempfile.mkdtemp(prefix="kiez_stream_ck_")
    _write_stream_batches(batches, d)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    qname = "stream_sink_" + uuid.uuid4().hex[:12]
    q = (
        build(stream)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        assert q.awaitTermination(180), "stream did not drain within 180s"
    finally:
        if q.isActive:
            q.stop()
    # pin the sink rows: the returned frame must stay valid after the
    # temp input dir is gone (the memory sink itself lives on the driver,
    # but downstream readers may re-plan — a local checkpoint decouples)
    out = spark.table(qname).localCheckpoint(eager=True)
    shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(ck, ignore_errors=True)
    return out


def q_dedup_stream(spark, sf_dir):
    """Streaming exact dedup across micro-batches: batch 2 replays batch 1
    under new ids; every replayed row must be dropped by the sha state, so
    the surviving sha set equals the batch-1 sha set (SQL-checkable)."""
    from kiez_spark.streaming import dedup_stream as SD

    docs = _docs(spark, sf_dir).select("doc_id", "text").filter(
        F.col("doc_id") < 100
    )
    replay = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    tbl = _stream_batches_to_memory(
        spark, "doc_id bigint, text string", [docs, replay],
        lambda s: SD.dedup_stream(s),
    )
    return tbl.select("sha")


SQL_DEDUP_STREAM = """
SELECT sha256(text) AS sha FROM documents WHERE doc_id < 100
"""


def q_online_neardup_flags(spark, sf_dir):
    """Stateful streaming near-dup flags across micro-batches: batch 2 =
    one-token mutations of batch 1 (ids + 100000). Band-key state from
    batch 1 flags the colliders in batch 2. Batch order == id order, so
    first_id == min(doc_id) per band group — SQL-expressible: the oracle
    groups on the band's minhash-value tuple exactly like the
    minhash_lsh_pairs oracle does."""
    from kiez_spark.streaming import stateful as ST

    docs2 = _docs2(spark, sf_dir).filter(
        (F.col("doc_id") < 100)
        | ((F.col("doc_id") >= 100000) & (F.col("doc_id") < 100100))
    )
    b1 = docs2.filter(F.col("doc_id") < 100000)
    b2 = docs2.filter(F.col("doc_id") >= 100000)
    tbl = _stream_batches_to_memory(
        spark, "doc_id bigint, text string", [b1, b2],
        ST.online_neardup_flags,
    )
    return tbl.select("doc_id", "first_id").distinct()


SQL_ONLINE_NEARDUP_FLAGS = f"""
WITH {_SIGS2_SQL.replace("FROM docs2", "FROM docs2 WHERE doc_id % 100000 < 100")},
grp AS (
  SELECT band, band_key, min(doc_id) AS first_id
  FROM bands GROUP BY band, band_key
)
SELECT DISTINCT b.doc_id, g.first_id
FROM bands b JOIN grp g ON b.band = g.band AND b.band_key = g.band_key
WHERE b.doc_id > g.first_id
"""


# ----------------------------------------------- Spark-only (rows-only gate)


def q_lsh_knn_cosine(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cands = L.lsh_candidates(
        emb, emb, "cosine", n_tables=8, n_bits=12, exclude_self=True
    )
    nn = K.topk(cands, TOP_K)
    return nn.select("query_id", "cand_id", "rank", F.round("dist", 6).alias("dist"))


def q_linkage_f1_lsh(spark, sf_dir):
    """North-rule F1 gate on the SCALE path: LSH blocking tier at 4x the
    exact-tier fixture size (rows-only driver check; the >=0.99 assertion
    lives in tests/test_synth_lsh_linkage.py)."""
    from kiez_spark import synth
    from kiez_spark.linkage import link_files

    files = synth.repos_files(spark, n=1600)
    res = link_files(spark, files, hubness="none", tier="lsh", max_dist=12.0)
    return E.pairwise_f1(
        E.clusters_to_pairs(res.clusters),
        synth.gold_pairs(files),
        pred_cols=("u", "v"),
    ).select("tp", "fp", "fn", F.round("f1", 6).alias("f1"))


def q_linkage_f1_lsh_scale(spark, sf_dir):
    """North-rule F1 gate at BENCH scale: n=20000 (the sf0.1 embeddings
    row count), LSH blocking tier — realistic blocking density, not the
    micro fixture. The >=0.99 assertion lives in
    tests/test_synth_lsh_linkage.py::test_linkage_f1_lsh_at_bench_scale,
    which drives this same function."""
    from kiez_spark import synth
    from kiez_spark.linkage import link_files

    files = synth.repos_files(spark, n=20000)
    res = link_files(spark, files, hubness="none", tier="lsh", max_dist=12.0)
    return E.pairwise_f1(
        E.clusters_to_pairs(res.clusters),
        synth.gold_pairs(files),
        pred_cols=("u", "v"),
    ).select("tp", "fp", "fn", F.round("f1", 6).alias("f1"))


def q_dedup_decisions(spark, sf_dir):
    """Survivor election over the minhash near-dup graph of docs2:
    per-component keeper = highest quality_features score (ties -> min
    id) — the decision table a training-data filter joins against."""
    docs2 = _docs2(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(docs2, n_hashes=16, bands=4, threshold=0.5)
    nodes = docs2.select(F.col("doc_id").alias("id"))
    qual = TA.quality_features(docs2).select("doc_id", "quality")
    return CC.survivor_decisions(pairs, nodes, quality=qual).select(
        "id", "component", "keep_id", "is_survivor"
    )


SQL_DEDUP_DECISIONS = f"""
WITH RECURSIVE {_SIGS2_SQL},
edges AS (SELECT src_id AS u, tgt_id AS v FROM jac WHERE jaccard >= 0.5),
sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
reach(a, b) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
),
comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
assign AS (
  SELECT d.doc_id AS id, coalesce(comp.component, d.doc_id) AS component
  FROM docs2 d LEFT JOIN comp ON d.doc_id = comp.id
),
qual AS (
  SELECT doc_id,
         least(1.0,
           least(len({_TOKENS_SQL.format(col='text')})::DOUBLE / 20.0, 1.0) * 0.4
           + (CASE WHEN length(text) > 0 THEN
                length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))::DOUBLE
                / length(text)::DOUBLE ELSE 0.0 END) * 0.3
           + (CASE WHEN len({_TOKENS_SQL.format(col='text')}) > 0 THEN
                len(list_distinct({_TOKENS_SQL.format(col='text')}))::DOUBLE
                / len({_TOKENS_SQL.format(col='text')})::DOUBLE
              ELSE 0.0 END) * 0.3) AS q
  FROM docs2
),
scored AS (
  SELECT a.id, a.component, coalesce(qual.q, 0.0) AS q
  FROM assign a LEFT JOIN qual ON a.id = qual.doc_id
),
winners AS (
  SELECT component, id AS keep_id
  FROM (SELECT component, id,
               row_number() OVER (PARTITION BY component
                                  ORDER BY q DESC, id) AS r
        FROM scored)
  WHERE r = 1
)
SELECT s.id, s.component, w.keep_id, s.id = w.keep_id AS is_survivor
FROM scored s JOIN winners w ON s.component = w.component
"""


def q_er_incremental(spark, sf_dir):
    """Incremental ER proven against a full-re-run oracle: corpus =
    documents, increment = mutated near-copies (first token -> 'zzz',
    doc_id + 100000). Spark runs the INCREMENTAL path — persisted
    blocking index (build_blocking_index), batch-incident CBS pairs only
    (incremental_blocking_pairs; corpus x corpus never re-pairs), then a
    touched-component-only merge into the corpus-only clustering
    (merge_components). The DuckDB oracle clusters the COMBINED corpus
    from scratch (recursive min-label CC over the same df-capped trigram
    CBS pairs), so a green row IS the incremental == full-rerun
    equivalence proof, run in the gate every round."""
    from kiez_spark.operators import er as ER

    corpus = _docs(spark, sf_dir).select("doc_id", "text")
    batch = corpus.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"^\S+", "zzz").alias("text"),
    )
    keys = F.transform(T.shingles(T.tokens(F.col("text")), 3), T.token_hash)
    posting, stats = ER.build_blocking_index(corpus, keys, df_cap=64)
    corpus_pairs = ER.metablocking_pairs(
        corpus, keys, df_cap=64, min_cbs=3, top_n=None
    )
    assign0 = CC.connected_components(
        corpus_pairs, nodes=corpus.select("doc_id"), pair_cols=("a_id", "b_id")
    )
    inc = ER.incremental_blocking_pairs(
        batch, keys, posting, stats, df_cap=64, min_cbs=3
    )
    out = CC.merge_components(
        assign0, inc, batch_nodes=batch.select("doc_id")
    )
    return out.select("id", "component")


SQL_ER_INCREMENTAL = f"""
WITH RECURSIVE {_DOCS2_SQL},
posting AS (
  SELECT DISTINCT doc_id AS id, k
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             {_shingles_sql(_TOKENS_SQL.format(col='text'), 3)},
             x -> {_H_SQL.format(s='x')})) AS k
    FROM docs2
  )
),
ok AS (SELECT k FROM posting GROUP BY k HAVING count(*) <= 64),
pp AS (SELECT p.id, p.k FROM posting p JOIN ok USING (k)),
pairs AS (
  SELECT a.id AS u, b.id AS v
  FROM pp a JOIN pp b ON a.k = b.k AND a.id < b.id
  GROUP BY a.id, b.id
  HAVING count(*) >= 3
),
sym AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
reach(a, b) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
),
comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a)
SELECT d.doc_id AS id, coalesce(comp.component, d.doc_id) AS component
FROM docs2 d LEFT JOIN comp ON d.doc_id = comp.id
"""


def q_incremental_neardup(spark, sf_dir):
    """Daily-increment dedup: a mutated new batch (every doc, first token
    -> 'zzz', shifted ids) checked against the existing corpus via the
    asymmetric banded-signature join — corpus x corpus never pairs."""
    corpus = _docs(spark, sf_dir).select("doc_id", "text")
    new = corpus.select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"^\S+", "zzz").alias("text"),
    )
    pairs = D.minhash_lsh_join(new, corpus, n_hashes=16, bands=4, threshold=0.5)
    return pairs.select(
        "new_id", "corpus_id", F.round("jaccard", 6).alias("jaccard")
    )


SQL_INCREMENTAL_NEARDUP = f"""
WITH newb AS (
  SELECT doc_id + 500000 AS doc_id,
         regexp_replace(text, '^\\S+', 'zzz') AS text
  FROM documents
),
sh_new AS (
  SELECT doc_id,
         {_hashed_shingles_sql(_TOKENS_SQL.format(col='text'))} AS s
  FROM newb
),
sh_corp AS (
  SELECT doc_id,
         {_hashed_shingles_sql(_TOKENS_SQL.format(col='text'))} AS s
  FROM documents
),
sigv_new AS (
  SELECT sh_new.doc_id, hp.h_idx,
         coalesce(list_min(list_transform(sh_new.s,
           x -> (hp.a * (x % 1000000007) + hp.b) % 1000000007)),
           1000000007) AS h_val
  FROM sh_new, {_minhash_sql_values(16)}
),
sigv_corp AS (
  SELECT sh_corp.doc_id, hp.h_idx,
         coalesce(list_min(list_transform(sh_corp.s,
           x -> (hp.a * (x % 1000000007) + hp.b) % 1000000007)),
           1000000007) AS h_val
  FROM sh_corp, {_minhash_sql_values(16)}
),
bands_new AS (
  SELECT doc_id, h_idx // 4 AS band,
         string_agg(h_val::VARCHAR, '_' ORDER BY h_idx) AS band_key
  FROM sigv_new GROUP BY doc_id, h_idx // 4
),
bands_corp AS (
  SELECT doc_id, h_idx // 4 AS band,
         string_agg(h_val::VARCHAR, '_' ORDER BY h_idx) AS band_key
  FROM sigv_corp GROUP BY doc_id, h_idx // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
  FROM bands_new a JOIN bands_corp b
    ON a.band = b.band AND a.band_key = b.band_key
)
SELECT c.new_id, c.corpus_id,
       round(CASE WHEN (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) > 0
             THEN len(list_intersect(sa.s, sb.s))::DOUBLE
                  / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
             ELSE 0.0 END, 6) AS jaccard
FROM cand c
JOIN sh_new sa ON c.new_id = sa.doc_id
JOIN sh_corp sb ON c.corpus_id = sb.doc_id
WHERE CASE WHEN (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) > 0
      THEN len(list_intersect(sa.s, sb.s))::DOUBLE
           / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
      ELSE 0.0 END >= 0.5
"""


# BM25 retrieval — float-literal convention: the SQL spells k1+1 as
# (1.2 + 1.0), NOT 2.2, because Spark computes F.lit(k1 + 1.0) in Python
# f64 and the literal 2.2 differs from 1.2+1.0 by one ulp; every other
# constant (0.5, 0.25, 0.75) is exact in binary.
_BM25_QUERY = "spark hash table window merge"
_BM25_TERMS = sorted(set(_BM25_QUERY.split()))


def q_bm25_search(spark, sf_dir):
    return TA.bm25_topk(_docs(spark, sf_dir), _BM25_QUERY, k=25)


SQL_BM25_SEARCH = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL.format(col='text')} AS tok FROM documents
),
dl AS (SELECT doc_id, len(tok) AS dl FROM toks),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
terms AS (SELECT doc_id, unnest(tok) AS term FROM toks),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms
  WHERE term IN ({", ".join("'" + t + "'" for t in _BM25_TERMS)})
  GROUP BY 1, 2
),
dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
              * tf * (1.2 + 1.0)
              / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) ) AS s
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY 1
)
SELECT doc_id, round(s, 6) AS bm25,
       (row_number() OVER (ORDER BY s DESC, doc_id))::INT AS rank
FROM scored ORDER BY s DESC, doc_id LIMIT 25
"""


def q_tfidf_top_terms(spark, sf_dir):
    return TA.tfidf_top_terms(_docs(spark, sf_dir), top_m=3).select(
        "doc_id",
        "term",
        "tf",
        "df_t",
        F.round("tfidf", 6).alias("tfidf"),
        F.col("term_rank").cast("int").alias("term_rank"),
    )


SQL_TFIDF_TOP_TERMS = f"""
WITH terms AS (
  SELECT doc_id, unnest({_TOKENS_SQL.format(col='text')}) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dft.df_t,
         tf.tf * (ln((n.n_docs + 1)::DOUBLE / (dft.df_t + 1)::DOUBLE) + 1.0)
           AS tfidf,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf * (ln((n.n_docs + 1)::DOUBLE
                              / (dft.df_t + 1)::DOUBLE) + 1.0) DESC,
                            tf.term) AS term_rank
  FROM tf JOIN dft ON tf.term = dft.term, n
)
SELECT doc_id, term, tf, df_t, round(tfidf, 6) AS tfidf,
       term_rank::INT AS term_rank
FROM scored WHERE term_rank <= 3
"""


def q_corpus_stats(spark, sf_dir):
    """One-row corpus monitoring summary (counts, token totals, exact
    dup rate, mean length). The mean ships as avg_tokens_micro, a pure
    integer-division BIGINT — a rounded-double ratio was observed to
    disagree by 1 ulp across engines on rounding-boundary corpora."""
    return TA.corpus_stats(_docs(spark, sf_dir))


SQL_CORPUS_STATS = f"""
WITH b AS (
  SELECT doc_id, len({_TOKENS_SQL.format(col="text")})::BIGINT AS n_tok,
         length(text)::BIGINT AS n_chars, sha256(text) AS sha
  FROM documents
),
a AS (
  SELECT count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS total_tokens,
         sum(n_chars)::BIGINT AS total_chars,
         count(DISTINCT sha)::BIGINT AS distinct_docs,
         (count(*) - count(DISTINCT sha))::BIGINT AS exact_dup_docs
  FROM b
)
SELECT *,
       ((total_tokens // n_docs) * 1000000
        + ((total_tokens % n_docs) * 1000000) // n_docs)::BIGINT
         AS avg_tokens_micro
FROM a
"""


def q_vocab_topk(spark, sf_dir):
    """Top-50 vocabulary by document frequency, (df desc, token)
    tie-break — TakeOrderedAndProject, never a full-vocab global sort."""
    return TA.vocab_topk(_docs(spark, sf_dir), top_k=50)


SQL_VOCAB_TOPK = f"""
WITH terms AS (
  SELECT DISTINCT doc_id, unnest({_TOKENS_SQL.format(col="text")}) AS token
  FROM documents
),
dfreq AS (
  SELECT token, count(*)::BIGINT AS df_docs FROM terms GROUP BY token
),
ranked AS (
  SELECT token, df_docs,
         row_number() OVER (ORDER BY df_docs DESC, token) AS r
  FROM dfreq
)
SELECT token, df_docs, r::INT AS rank FROM ranked WHERE r <= 50
"""


def q_repetition_features(spark, sf_dir):
    """Gopher-style repetition signals (uniq-token / adjacent-repeat /
    top-n-gram fractions) vs DuckDB list-lambda twins."""
    return TA.repetition_features(_docs(spark, sf_dir))


_REP_SQL = f"""
rep AS (
  WITH t AS (
    SELECT doc_id, {_TOKENS_SQL.format(col="text")} AS toks FROM documents
  ),
  b AS (
    SELECT doc_id, toks, len(toks) AS n, len(list_distinct(toks)) AS nd,
           {_shingles_sql("toks", 2)} AS sh2,
           {_shingles_sql("toks", 3)} AS sh3
    FROM t
  )
  SELECT doc_id, n::INT AS n_tokens,
    round(CASE WHEN n > 0 THEN nd / CAST(n AS DOUBLE) ELSE 0 END, 6)
      AS uniq_token_frac,
    round(CASE WHEN n > 1 THEN
      len(list_filter(generate_series(2, n), i -> toks[i] = toks[i-1]))
        / CAST(n - 1 AS DOUBLE) ELSE 0 END, 6) AS adj_repeat_frac,
    round(CASE WHEN len(sh2) > 0 THEN
      list_max(list_transform(list_distinct(sh2),
                              x -> len(list_filter(sh2, y -> y = x))))
        / CAST(len(sh2) AS DOUBLE) ELSE 0 END, 6) AS top2gram_frac,
    round(CASE WHEN len(sh3) > 0 THEN
      list_max(list_transform(list_distinct(sh3),
                              x -> len(list_filter(sh3, y -> y = x))))
        / CAST(len(sh3) AS DOUBLE) ELSE 0 END, 6) AS top3gram_frac
  FROM b
)
"""

SQL_REPETITION_FEATURES = f"""
WITH {_REP_SQL}
SELECT * FROM rep
"""


def q_quality_filter(spark, sf_dir):
    """Keep/drop curation decision with the first failing rule named;
    thresholds sit inside the corpus distribution so BOTH classes are
    exercised (~10-25% drops on this corpus)."""
    return CUR.quality_filter(
        _docs(spark, sf_dir), min_tokens=15, min_uniq_frac=0.35,
        max_top2gram_frac=0.20, max_adj_repeat_frac=0.10,
    ).select("doc_id", "reason", "keep")


SQL_QUALITY_FILTER = f"""
WITH {_REP_SQL},
dec AS (
  SELECT doc_id,
    CASE WHEN n_tokens < 15 THEN 'too_short'
         WHEN n_tokens > 100000 THEN 'too_long'
         WHEN uniq_token_frac < 0.35 THEN 'low_uniq'
         WHEN top2gram_frac > 0.20 THEN 'rep_2gram'
         WHEN adj_repeat_frac > 0.10 THEN 'rep_adjacent'
         ELSE 'ok' END AS reason
  FROM rep
)
SELECT doc_id, reason, reason = 'ok' AS keep FROM dec
"""


def q_scrub_text(spark, sf_dir):
    """Text-cleaning pass over documents seeded with planted URLs/e-mails
    (every 3rd/5th doc gets one appended — the driver corpus has none)."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" see https://example.com/x?q=1"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" mail bob.smith@example.org now"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return CUR.scrub_text(d)


SQL_SCRUB_TEXT = """
WITH seeded AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0 THEN ' see https://example.com/x?q=1' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' mail bob.smith@example.org now' ELSE '' END
           AS text
  FROM documents
),
step1 AS (
  SELECT doc_id,
         len(regexp_extract_all(text, 'https?://\\S+')) AS n_urls,
         regexp_replace(text, 'https?://\\S+', '<URL>', 'g') AS no_urls
  FROM seeded
)
SELECT doc_id,
       regexp_replace(no_urls,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g')
         AS clean_text,
       n_urls::INT AS n_urls,
       len(regexp_extract_all(no_urls,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::INT AS n_emails
FROM step1
"""


def q_hash_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test labels off the stable key
    hash — the splits partition the corpus exactly and reproduce on any
    cluster layout or engine."""
    return CUR.hash_split(
        _docs(spark, sf_dir), {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")


_SPLIT_B = 1 << 20
_SPLIT_C1 = int(0.8 * _SPLIT_B)
_SPLIT_C2 = int(0.9 * _SPLIT_B)

SQL_HASH_SPLIT = f"""
WITH h AS (
  SELECT doc_id,
         ({_H_SQL.format(s="doc_id::VARCHAR || '_42'")}) % {_SPLIT_B} AS b
  FROM documents
)
SELECT doc_id,
       CASE WHEN b < {_SPLIT_C1} THEN 'train'
            WHEN b < {_SPLIT_C2} THEN 'val'
            ELSE 'test' END AS split
FROM h
"""


def q_url_dedup_groups(spark, sf_dir):
    """URL-level crawl-dup groups over deterministically seeded
    citations: case-folded host + query/fragment/trailing-slash
    stripping must land variant spellings in one group (docs 0 mod 3 and
    1 mod 3 share 7 'example.com/p{k}' groups despite host case, a
    trailing slash, and a ?utm param separating their raw URLs)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" see https://Example.COM/p"),
                    (F.col("doc_id") % 7).cast("string"),
                    F.lit("/"),
                ),
            )
            .when(
                F.col("doc_id") % 3 == 1,
                F.concat(
                    F.lit(" https://example.com/p"),
                    (F.col("doc_id") % 7).cast("string"),
                    F.lit("?utm=1"),
                ),
            )
            .otherwise(
                F.concat(
                    F.lit(" http://other.net/q"),
                    (F.col("doc_id") % 5).cast("string"),
                    F.lit("#frag"),
                )
            ),
        ).alias("text"),
    )
    return CUR.url_dedup_groups(docs)


SQL_URL_DEDUP_GROUPS = """
WITH seeded AS (
  SELECT doc_id,
    text || CASE
      WHEN doc_id % 3 = 0
        THEN ' see https://Example.COM/p' || (doc_id % 7)::VARCHAR || '/'
      WHEN doc_id % 3 = 1
        THEN ' https://example.com/p' || (doc_id % 7)::VARCHAR || '?utm=1'
      ELSE ' http://other.net/q' || (doc_id % 5)::VARCHAR || '#frag'
    END AS text
  FROM documents
),
urls AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_extract_all(text, 'https?://\\S+')) AS url
  FROM seeded
),
norm AS (
  SELECT DISTINCT doc_id,
    lower(regexp_extract(url, '^(https?://[^/?#]+)', 1)) ||
    regexp_replace(regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1),
                   '/+$', '') AS norm_url
  FROM urls
)
SELECT norm_url, count(*)::BIGINT AS n_docs, min(doc_id) AS first_id
FROM norm GROUP BY norm_url HAVING count(*) >= 2
"""


def q_sample_by_hash(spark, sf_dir):
    """Deterministic 20% corpus sample on the stable doc_id hash."""
    return CUR.sample_by_hash(
        _docs(spark, sf_dir), rate=0.2, seed=7
    ).select("doc_id")


SQL_SAMPLE_BY_HASH = f"""
SELECT doc_id FROM documents
WHERE ({_H_SQL.format(s="doc_id::VARCHAR || '_7'")}) % {1 << 20}
      < {int(0.2 * (1 << 20))}
"""


_STRAT_QUOTAS = {"en": 40, "de": 25, "fr": 10}  # es/zh -> quota 0


def q_stratified_sample(spark, sf_dir):
    """Per-language deterministic quotas (the pretraining mixture dial):
    40 en / 25 de / 10 fr, languages outside the recipe dropped. Rank =
    row_number over (hash bucket, doc_id) per stratum — same md5 bucket
    as sample_by_hash, so it's engine-exact; the constant bound is pushed
    as a WindowGroupLimit (no full per-stratum sort at scale)."""
    return CUR.stratified_sample(
        _docs(spark, sf_dir), _STRAT_QUOTAS, strata_col="lang",
        key_col="doc_id", seed=7,
    ).select("doc_id", "lang")


_STRAT_CASE = " ".join(
    f"WHEN '{k}' THEN {n}" for k, n in _STRAT_QUOTAS.items()
)

SQL_STRATIFIED_SAMPLE = f"""
WITH b AS (
  SELECT doc_id, lang,
         ({_H_SQL.format(s="doc_id::VARCHAR || '_7'")}) % {1 << 20} AS bucket
  FROM documents
),
r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY bucket, doc_id) AS rnk
  FROM b
)
SELECT doc_id, lang FROM r
WHERE rnk <= CASE lang {_STRAT_CASE} ELSE 0 END
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: every 7th doc's mutated near-copy
    (first token -> 'zzz', the _docs2 mutation) plays the eval set, so
    known 5-gram overlaps exist; n_hits counts distinct contaminated
    5-grams per training doc. The eval shingle set is broadcast — the
    corpus side never shuffles."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 7 == 0).select(
        F.regexp_replace(F.col("text"), r"^\S+", "zzz").alias("text")
    )
    return CUR.decontaminate(d, bench, ngram=5)


SQL_DECONTAMINATE = f"""
WITH doc_sh AS (
  SELECT doc_id,
         unnest({_hashed_shingles_sql(_TOKENS_SQL.format(col='text'), 5)}) AS h
  FROM documents
),
bench AS (
  SELECT regexp_replace(text, '^\\S+', 'zzz') AS text
  FROM documents WHERE doc_id % 7 = 0
),
bench_sh AS (
  SELECT DISTINCT
         unnest({_hashed_shingles_sql(_TOKENS_SQL.format(col='text'), 5)}) AS h
  FROM bench
)
SELECT doc_id, count(*)::BIGINT AS n_hits
FROM doc_sh JOIN bench_sh USING (h)
GROUP BY doc_id
"""


# --------------------------------------------- record-linkage string tier
# (operators/er.py) Cross-engine contract: lev/gap/jw_micro/n_shared are
# integers (jw_micro = floor(jw * 1e6) of a bit-identical double — see the
# er.py module docstring for the DuckDB jaro_winkler_similarity parity
# proof); only tfidf cosine emits a rounded double (hubness precedent).

_ER_KEYED_SQL = """
keyed AS (
  SELECT doc_id, right(text, 16) AS blk, substr(text, 1, 24) AS key
  FROM docs2
),
ok AS (SELECT blk FROM keyed GROUP BY blk HAVING count(*) <= 64)
"""


def q_lev_blocked_pairs(spark, sf_dir):
    from kiez_spark.operators import er as ER

    return ER.levenshtein_pairs(
        _docs2(spark, sf_dir),
        block="right(text, 16)",
        key="substr(text, 1, 24)",
        max_dist=8,
        max_block=64,
    )


SQL_LEV_BLOCKED_PAIRS = f"""
WITH {_DOCS2_SQL},
{_ER_KEYED_SQL}
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       levenshtein(a.key, b.key)::INT AS lev
FROM keyed a
JOIN keyed b ON a.blk = b.blk AND a.doc_id < b.doc_id
JOIN ok ON a.blk = ok.blk
WHERE levenshtein(a.key, b.key) <= 8
"""


def q_jaro_winkler_pairs(spark, sf_dir):
    from kiez_spark.operators import er as ER

    return ER.jaro_winkler_pairs(
        _docs2(spark, sf_dir),
        block="right(text, 16)",
        key="substr(text, 1, 24)",
        threshold=0.8,
        max_block=64,
    )


SQL_JARO_WINKLER_PAIRS = f"""
WITH {_DOCS2_SQL},
{_ER_KEYED_SQL}
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(floor(jaro_winkler_similarity(a.key, b.key) * 1e6) AS BIGINT)
         AS jw_micro
FROM keyed a
JOIN keyed b ON a.blk = b.blk AND a.doc_id < b.doc_id
JOIN ok ON a.blk = ok.blk
WHERE jaro_winkler_similarity(a.key, b.key) >= 0.8
"""


def q_monge_elkan_pairs(spark, sf_dir):
    """Symmetric Monge-Elkan over blocked pairs (er.monge_elkan_pairs):
    token-level best-match JW, all-integer micro arithmetic — the
    multi-token comparator the whole-string JW row cannot express.
    threshold 0.55 keeps a non-trivial pass set on the synthetic keys
    (token JW maxima sit well below whole-string JW on near-dups)."""
    from kiez_spark.operators import er as ER

    return ER.monge_elkan_pairs(
        _docs2(spark, sf_dir),
        block="right(text, 16)",
        key="substr(text, 1, 24)",
        threshold=0.55,
        max_block=64,
    )


# Integer-exact ME replay: per (pair, distinct a-token) take the max of
# floor(jw * 1e6) over b-tokens (jw doubles bit-identical across
# engines), then sum(cnt * best) // sum(cnt) per direction and
# (me_ab + me_ba) // 2 — identical int64 ops to the pandas kernel, no
# double-summation ordering hazard. Zero-token sides produce no rows
# and cannot pass a positive threshold (kernel returns 0 there too).
SQL_MONGE_ELKAN_PAIRS = f"""
WITH {_DOCS2_SQL},
{_ER_KEYED_SQL},
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.key AS ka, b.key AS kb
  FROM keyed a
  JOIN keyed b ON a.blk = b.blk AND a.doc_id < b.doc_id
  JOIN ok ON a.blk = ok.blk
),
atok AS (
  SELECT a_id, b_id, tok, count(*)::BIGINT AS cnt
  FROM (SELECT a_id, b_id, unnest(str_split(ka, ' ')) AS tok FROM pairs)
  WHERE tok <> '' GROUP BY a_id, b_id, tok
),
btok AS (
  SELECT a_id, b_id, tok, count(*)::BIGINT AS cnt
  FROM (SELECT a_id, b_id, unnest(str_split(kb, ' ')) AS tok FROM pairs)
  WHERE tok <> '' GROUP BY a_id, b_id, tok
),
abbest AS (
  SELECT at.a_id, at.b_id, at.tok, at.cnt,
         max(floor(jaro_winkler_similarity(at.tok, bt.tok) * 1e6))::BIGINT
           AS best
  FROM atok at JOIN btok bt ON at.a_id = bt.a_id AND at.b_id = bt.b_id
  GROUP BY at.a_id, at.b_id, at.tok, at.cnt
),
babest AS (
  SELECT bt.a_id, bt.b_id, bt.tok, bt.cnt,
         max(floor(jaro_winkler_similarity(bt.tok, at.tok) * 1e6))::BIGINT
           AS best
  FROM btok bt JOIN atok at ON at.a_id = bt.a_id AND at.b_id = bt.b_id
  GROUP BY bt.a_id, bt.b_id, bt.tok, bt.cnt
),
meab AS (
  SELECT a_id, b_id, sum(cnt * best) // sum(cnt) AS me_ab
  FROM abbest GROUP BY a_id, b_id
),
meba AS (
  SELECT a_id, b_id, sum(cnt * best) // sum(cnt) AS me_ba
  FROM babest GROUP BY a_id, b_id
)
SELECT meab.a_id, meab.b_id,
       ((me_ab + me_ba) // 2)::BIGINT AS me_micro
FROM meab JOIN meba ON meab.a_id = meba.a_id AND meab.b_id = meba.b_id
WHERE (me_ab + me_ba) // 2 >= 550000
"""


def _packed_key_sql(key: str) -> str:
    """SQL twin of operators/er._packed_key_expr (7-char packed ASCII,
    per-char least(ascii, 127) clamp — keeps the radix-128 packing sound
    on non-ASCII codepoints, matching the Spark side exactly)."""
    terms = " + ".join(
        f"least(ascii(substr(rpad({key}, 7, ' '), {i}, 1)), 127)::BIGINT"
        f" * {128 ** (7 - i)}"
        for i in range(1, 8)
    )
    return "(" + terms + ")"


def q_snm_pairs(spark, sf_dir):
    from kiez_spark.operators import er as ER

    return ER.snm_pairs(
        _docs(spark, sf_dir), key="substr(text, 1, 32)", window=5
    )


SQL_SNM_PAIRS = f"""
WITH keyed AS (
  SELECT doc_id, substr(text, 1, 32) AS key FROM documents
),
ranked AS (
  SELECT doc_id, key,
         row_number() OVER (ORDER BY {_packed_key_sql('key')}, doc_id)
           AS rn
  FROM keyed
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       (b.rn - a.rn)::INT AS gap,
       levenshtein(a.key, b.key)::INT AS lev
FROM ranked a
JOIN ranked b ON b.rn > a.rn AND b.rn <= a.rn + 5
"""


def q_tfidf_cosine_pairs(spark, sf_dir):
    from kiez_spark.operators import er as ER

    # exact doc count from the parquet footer (docs2 = documents x 2) —
    # a driver-side metadata read, no Spark count job
    n_docs = 2 * _nrows(sf_dir, "documents")
    return ER.tfidf_cosine_pairs(
        _docs2(spark, sf_dir),
        shingle_n=3,
        df_cap=64,
        threshold=0.35,
        n_docs=n_docs,
    )


SQL_TFIDF_COSINE_PAIRS = f"""
WITH {_DOCS2_SQL},
terms AS (
  SELECT doc_id,
         unnest(list_transform(
           {_shingles_sql(_TOKENS_SQL.format(col='text'))},
           x -> {_H_SQL.format(s='x')})) AS h
  FROM docs2
),
tf AS (SELECT doc_id, h, count(*) AS tf FROM terms GROUP BY doc_id, h),
dft AS (SELECT h, count(*) AS df_t FROM tf GROUP BY h),
n AS (SELECT count(*) AS n_docs FROM docs2),
postings AS (
  SELECT tf.doc_id, tf.h,
         tf.tf * (ln((n.n_docs + 1)::DOUBLE / (dft.df_t + 1)::DOUBLE)
                  + 1.0) AS w
  FROM tf JOIN dft ON tf.h = dft.h, n
  WHERE dft.df_t <= 64
),
norms AS (SELECT doc_id, sqrt(sum(w * w)) AS norm
          FROM postings GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         count(*) AS n_shared, sum(a.w * b.w) AS dot
  FROM postings a JOIN postings b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d.a_id, d.b_id, d.n_shared::BIGINT AS n_shared,
       round(d.dot / (na.norm * nb.norm), 6) AS cos
FROM dots d
JOIN norms na ON d.a_id = na.doc_id
JOIN norms nb ON d.b_id = nb.doc_id
WHERE d.dot / (na.norm * nb.norm) >= 0.35
"""


# ---------------------------------------- ER wave 2: phonetic / FS / meta
# Cross-engine contract: phonetic keys are pure identical string-function
# chains on both engines; FS weights are driver-computed literal doubles
# summed in fixed order (floor-micro output — no cross-engine log());
# blocking-quality ratios are integer 1e6-scaled floor divisions; CBS
# weights and ranks are integers.


def q_phonetic_blocks(spark, sf_dir):
    from kiez_spark.operators import er as ER

    return _docs(spark, sf_dir).select(
        "doc_id", ER.phonetic_key(F.col("text")).alias("pkey")
    )


SQL_PHONETIC_BLOCKS = r"""
WITH w AS (
  SELECT doc_id, upper(regexp_extract(text, '^[A-Za-z]+')) AS w
  FROM documents
),
c AS (
  -- per-digit run collapse: RE2 (DuckDB) has no backreferences, so
  -- '(.)\1+' silently never matches — 6 chained plain regexps instead
  SELECT doc_id, w,
         replace(substr(
           regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(regexp_replace(regexp_replace(
           translate(w, 'AEIOUYHWBFPVCGJKQSXZDTLMNR',
                        '00000000111122222222334556'),
           '1{2,}', '1', 'g'), '2{2,}', '2', 'g'), '3{2,}', '3', 'g'),
           '4{2,}', '4', 'g'), '5{2,}', '5', 'g'), '6{2,}', '6', 'g'),
           2), '0', '') AS digits
  FROM w
)
SELECT doc_id,
       CASE WHEN w = '' THEN '0000'
            ELSE substr(w, 1, 1) || rpad(substr(digits, 1, 3), 3, '0')
       END AS pkey
FROM c
"""


# field -> (m, u): P(agree | match), P(agree | non-match). Driver-side
# literals; both engines sum the same doubles in the same order.
_FS_FIELDS = {
    "lang_eq": (0.95, 0.2),
    "source_eq": (0.9, 0.05),
    "prefix_eq": (0.85, 0.02),
}


def _fs_pairs(spark, sf_dir):
    """Blocked docs2 candidate pairs with the three FS agreement booleans
    (attributes joined back from the base documents row via id % 100000 —
    the mutated near-copy inherits its base's lang/source)."""
    from kiez_spark.operators import er as ER

    pairs = ER.blocked_pairs(
        _docs2(spark, sf_dir),
        block="right(text, 16)",
        key="substr(text, 1, 24)",
        max_block=64,
    )
    attrs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    aa = attrs.select(
        F.col("doc_id").alias("_aid"),
        F.col("lang").alias("_alang"),
        F.col("source").alias("_asrc"),
    )
    bb = attrs.select(
        F.col("doc_id").alias("_bid"),
        F.col("lang").alias("_blang"),
        F.col("source").alias("_bsrc"),
    )
    return (
        pairs.withColumn("_aid", F.col("a_id") % 100000)
        .withColumn("_bid", F.col("b_id") % 100000)
        .join(aa, "_aid")
        .join(bb, "_bid")
        .withColumn("lang_eq", F.col("_alang") == F.col("_blang"))
        .withColumn("source_eq", F.col("_asrc") == F.col("_bsrc"))
        .withColumn(
            "prefix_eq",
            F.substring("a_key", 1, 12) == F.substring("b_key", 1, 12),
        )
    )


def q_fs_match_scores(spark, sf_dir):
    from kiez_spark.operators import er as ER

    return ER.fs_scores(_fs_pairs(spark, sf_dir), _FS_FIELDS).select(
        "a_id", "b_id", "weight_micro"
    )


def _fs_sql_weight() -> str:
    import math as _m

    cond = {
        "lang_eq": "al.lang = bl.lang",
        "source_eq": "al.source = bl.source",
        "prefix_eq": "substr(a.key, 1, 12) = substr(b.key, 1, 12)",
    }
    terms = ["0.0"]
    for name, (m, u) in _FS_FIELDS.items():
        wa = repr(_m.log2(m / u))
        wd = repr(_m.log2((1.0 - m) / (1.0 - u)))
        terms.append(f"CASE WHEN {cond[name]} THEN {wa} ELSE {wd} END")
    return " + ".join(terms)


SQL_FS_MATCH_SCORES = f"""
WITH {_DOCS2_SQL},
{_ER_KEYED_SQL}
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(floor(1e6 * ({_fs_sql_weight()})) AS BIGINT) AS weight_micro
FROM keyed a
JOIN keyed b ON a.blk = b.blk AND a.doc_id < b.doc_id
JOIN ok ON a.blk = ok.blk
JOIN documents al ON al.doc_id = a.doc_id % 100000
JOIN documents bl ON bl.doc_id = b.doc_id % 100000
"""


def q_fs_em_posteriors(spark, sf_dir):
    from kiez_spark.operators import er as ER

    pairs = _fs_pairs(spark, sf_dir)
    return ER.fs_em_posteriors(
        spark, pairs, ["lang_eq", "source_eq", "prefix_eq"], n_iter=30
    )


def q_er_fs_f1(spark, sf_dir):
    """North-rule gate for the STRING tier (the probabilistic twin of
    linkage_f1's embedding pipeline, = jobs/run_er.py in miniature):
    meta-blocking -> agreement vectors -> fixed-u Fellegi-Sunter EM
    (u from deterministic random pairings — the blocked candidates are
    match-dominated, so free EM would be degenerate) -> posterior-0.5
    threshold -> connected components -> pairwise F1 vs planted gold.
    Rows-only (EM is not SQL-expressible); the bar is f1 >= 0.99."""
    import math as _m

    from kiez_spark import synth
    from kiez_spark.functions import text as T
    from kiez_spark.operators import clustering as CCl
    from kiez_spark.operators import er as ER

    files = synth.repos_files(spark, n=800)
    docs = files.select(
        F.col("row_id").alias("doc_id"), F.col("content").alias("text")
    )
    keys = F.transform(T.shingles(T.tokens(F.col("text")), 3), T.token_hash)
    blocked = ER.metablocking_pairs(
        docs, keys, df_cap=64, min_cbs=5, top_n=10
    )

    def compare(pairs):
        a = docs.select(
            F.col("doc_id").alias("a_id"), F.col("text").alias("a_text")
        )
        b = docs.select(
            F.col("doc_id").alias("b_id"), F.col("text").alias("b_text")
        )
        lev = F.levenshtein("a_text", "b_text", 24)
        return (
            pairs.select("a_id", "b_id")
            .join(a, "a_id")
            .join(b, "b_id")
            .withColumn(
                "prefix_eq",
                F.substring("a_text", 1, 32) == F.substring("b_text", 1, 32),
            )
            .withColumn(
                "size_close",
                F.abs(F.length("a_text") - F.length("b_text")) <= 8,
            )
            .withColumn("lev_small", (lev >= 0) & (lev <= 24))
            .select("a_id", "b_id", "prefix_eq", "size_close", "lev_small")
        )

    fields = ["prefix_eq", "size_close", "lev_small"]
    # n_rows is the synth generator's exact row count — no corpus scan
    u = ER.fs_u_probabilities(
        compare(ER.random_pairs(docs, n_rows=800)), fields
    )
    params, _ = ER.fs_em(compare(blocked), fields, n_iter=30, fixed_u=u)
    p = params["p"]
    thr = int(_m.floor(1e6 * _m.log2((1.0 - p) / p)))
    kept = {
        f: (params["m"][f], params["u"][f])
        for f in fields
        if params["m"][f] > params["u"][f]
    }
    matched = (
        ER.fs_scores(compare(blocked), kept)
        .filter(F.col("weight_micro") > thr)
        .select("a_id", "b_id")
    )
    comps = CCl.connected_components(matched, pair_cols=("a_id", "b_id"))
    return E.pairwise_f1(
        E.clusters_to_pairs(comps),
        synth.gold_pairs(files),
        pred_cols=("u", "v"),
    ).select("tp", "fp", "fn", F.round("f1", 6).alias("f1"))


def q_blocking_quality(spark, sf_dir):
    from kiez_spark.operators import er as ER

    cand = ER.blocked_pairs(
        _docs2(spark, sf_dir),
        block="right(text, 16)",
        key="substr(text, 1, 24)",
        max_block=64,
    ).select("a_id", "b_id")
    docs = _docs(spark, sf_dir)
    gold = docs.select(
        F.col("doc_id").alias("a_id"),
        (F.col("doc_id") + 100000).alias("b_id"),
    )
    n_records = 2 * _nrows(sf_dir, "documents")
    return ER.blocking_quality(cand, gold, n_records)


SQL_BLOCKING_QUALITY = f"""
WITH {_DOCS2_SQL},
{_ER_KEYED_SQL},
cand AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM keyed a
  JOIN keyed b ON a.blk = b.blk AND a.doc_id < b.doc_id
  JOIN ok ON a.blk = ok.blk
),
gold AS (SELECT doc_id AS a_id, doc_id + 100000 AS b_id FROM documents),
s AS (
  SELECT (SELECT count(*) FROM cand) AS n_cand,
         (SELECT count(*) FROM gold) AS n_gold,
         (SELECT count(*) FROM cand JOIN gold USING (a_id, b_id))
           AS n_found,
         (SELECT 2 * count(*) FROM documents) AS nr
)
SELECT n_cand::BIGINT AS n_candidates,
       n_gold::BIGINT AS n_gold,
       n_found::BIGINT AS n_found,
       (1000000 * n_found // n_gold)::BIGINT AS pair_completeness_micro,
       ((1000000 * (nr * (nr - 1) // 2 - n_cand))
          // (nr * (nr - 1) // 2))::BIGINT AS reduction_ratio_micro
FROM s
"""


def q_metablocking_pairs(spark, sf_dir):
    from kiez_spark.operators import er as ER

    d2 = _docs2(spark, sf_dir)
    # 3-gram shingles: with the corpus's ~30-word vocab, 2-grams average
    # df ~44 and the cap would starve the index; trigrams are sparse
    keys = F.transform(
        T.shingles(T.tokens(F.col("text")), 3), T.token_hash
    )
    return ER.metablocking_pairs(
        d2, keys, df_cap=64, min_cbs=3, top_n=5
    )


SQL_METABLOCKING_PAIRS = f"""
WITH {_DOCS2_SQL},
posting AS (
  SELECT DISTINCT doc_id AS id, k
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             {_shingles_sql(_TOKENS_SQL.format(col='text'), 3)},
             x -> {_H_SQL.format(s='x')})) AS k
    FROM docs2
  )
),
ok AS (SELECT k FROM posting GROUP BY k HAVING count(*) <= 64),
pp AS (SELECT p.id, p.k FROM posting p JOIN ok USING (k)),
pairs AS (
  SELECT a.id AS a_id, b.id AS b_id, count(*) AS cbs
  FROM pp a JOIN pp b ON a.k = b.k AND a.id < b.id
  GROUP BY a.id, b.id
  HAVING count(*) >= 3
)
SELECT a_id, b_id, cbs::INT AS cbs, rank::INT AS rank
FROM (
  SELECT a_id, b_id, cbs,
         row_number() OVER (PARTITION BY a_id ORDER BY cbs DESC, b_id)
           AS rank
  FROM pairs
)
WHERE rank <= 5
"""


# ---------------- derived-embedding linkage/alignment oracles (r6)
#
# The end-to-end F1 gates were rows-only through r5 because they ran on
# synth corpora (xxhash64-generated — invisible to DuckDB). They now run
# on the driver's documents table with the SAME library pipelines
# (link_files / align_files), and the oracle replays every stage in SQL:
# synth.derive_embeddings sums INT64 hash numerators and divides once
# (bit-exact in any engine), so the embeddings, exact kNN, CSLS rescore,
# threshold match, connected components and the pairwise F1 counts are
# all SQL-expressible. Outputs are integers (tp/fp/fn/f1_micro) — no
# rounded-double hazard.

_LINK_MAX_DIST = 8.0  # calibrated: planted one-token-edit pairs sit at
# 3.8-5.6 on this corpus (dim=32), unrelated docs at ~30+ — 8.0 splits
# the two populations with wide margins on both sides


def _emb_abc(dim: int = 32, seed: int = 42):
    """The derive_embeddings per-dim mix constants, drawn exactly like
    synth.derive_embeddings does (RandomState(seed))."""
    import numpy as np

    rs = np.random.RandomState(seed)
    a = rs.randint(1, 2001, size=dim).astype(int)
    b = rs.randint(1, 1999, size=dim).astype(int)
    c = rs.randint(0, 2001, size=dim).astype(int)
    return a.tolist(), b.tolist(), c.tolist()


def _derived_emb_sql(files: str, out: str, dim: int = 32) -> str:
    """CTE chunk rebuilding synth.derive_embeddings in SQL: ``files``
    must expose (fid, content); emits ``{out}``(id, pos, val) in long
    form. val = sum_int64(per-token numerator) / 1000.0 — the identical
    integer arithmetic of the Spark kernel, so values are bit-exact."""
    a, b, c = _emb_abc(dim)
    dims = ", ".join(
        f"({j}, {a[j]}, {b[j]}, {c[j]})" for j in range(dim)
    )
    return f"""
{out}_tok AS (
  SELECT fid,
         ('0x' || substr(md5(unnest(string_split(content, ' '))), 1, 15))::BIGINT
           AS h
  FROM {files}
),
{out}_dims (j, aj, bj, cj) AS (VALUES {dims}),
{out} AS (
  SELECT t.fid AS id, d.j AS pos,
         sum(((t.h % 2003) * d.aj + (t.h % 1999) * d.bj + d.cj) % 2001 - 1000)
           / 1000.0 AS val
  FROM {out}_tok t CROSS JOIN {out}_dims d
  GROUP BY t.fid, d.j
)"""


_LINK_FILES_SQL = """
base_f AS (SELECT doc_id AS fid, text AS content FROM documents),
mut_f AS (
  SELECT doc_id + 1000000 AS fid,
         regexp_replace(text, '^\\S+', 'zz9') AS content
  FROM documents
),
all_f AS (SELECT * FROM base_f UNION ALL SELECT * FROM mut_f)
"""

_F1_COUNTS_SQL = """
mix AS (
  SELECT p.u AS pu, g.u AS gu
  FROM pred p FULL OUTER JOIN gold g ON p.u = g.u AND p.v = g.v
),
counts AS (
  SELECT count(pu) AS n_pred, count(gu) AS n_gold,
         count(CASE WHEN pu IS NOT NULL AND gu IS NOT NULL THEN 1 END) AS tp
  FROM mix
)
SELECT tp::BIGINT AS tp,
       (n_pred - tp)::BIGINT AS fp,
       (n_gold - tp)::BIGINT AS fn,
       (CASE WHEN 2 * tp + (n_pred - tp) + (n_gold - tp) > 0
             THEN floor((2.0 * tp / (2 * tp + (n_pred - tp) + (n_gold - tp)))
                        * 1000000.0)
             ELSE 0 END)::BIGINT AS f1_micro
FROM counts
"""


def _files_from_docs(spark, sf_dir):
    """documents as the linkage input_hint shape (row_id, content)."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id").alias("row_id"), F.col("text").alias("content")
    )


def _f1_micro_df(f1_df):
    den = 2 * F.col("tp") + F.col("fp") + F.col("fn")
    return f1_df.select(
        "tp",
        "fp",
        "fn",
        F.when(
            den > 0,
            F.floor((2.0 * F.col("tp") / den) * F.lit(1e6)),
        ).otherwise(F.lit(0)).cast("bigint").alias("f1_micro"),
    )


_LINK_CLEAN_DIST = 16.0  # corpus-cleaning cutoff: the documents table
# contains its own near-duplicate pairs (one-token variants at ~3.3);
# docs whose base-space nearest neighbor sits within 16 are excluded so
# the planted pairs are the ONLY near-dup structure, with a triangle-
# inequality margin (16 - max planted dist 5.6 = 10.4 > match gate 8)
# keeping cross pairs (base_i vs mutated_j) outside the gate too


def q_linkage_f1(spark, sf_dir):
    """End-to-end linkage gate, ORACLE-BACKED (r6 promotion): cleaned
    documents + one-token-edit copies -> link_files (hash-feature
    embeddings, exact CSLS kNN, raw-distance match gate, connected
    components) -> pairwise F1 vs the planted (doc_id, doc_id+1e6)
    gold. The DuckDB oracle replays every stage — embedding derivation
    included (integer-exact, see synth.derive_embeddings); integer
    outputs hash exactly. The synth-corpus F1 >= 0.99 assertions remain
    in tests/test_synth_lsh_linkage.py and the LSH-tier rows-only
    gates."""
    from kiez_spark import synth
    from kiez_spark.linkage import link_files

    base = _files_from_docs(spark, sf_dir)
    emb0 = synth.derive_embeddings(base, dim=32)
    bad = (
        K.knn_join_pandas(emb0, emb0, 1, "euclidean", exclude_self=True)
        .filter(F.col("dist") <= _LINK_CLEAN_DIST)
        .select(F.col("query_id").alias("row_id"))
    )
    clean = base.join(bad, "row_id", "left_anti")
    files = clean.unionByName(synth.mutated_copy(clean))
    res = link_files(
        spark, files, hubness="csls", max_dist=_LINK_MAX_DIST
    )
    gold = clean.select(
        F.col("row_id").alias("src_id"),
        (F.col("row_id") + 1000000).alias("tgt_id"),
    )
    return _f1_micro_df(
        E.pairwise_f1(
            E.clusters_to_pairs(res.clusters), gold, pred_cols=("u", "v")
        )
    )


SQL_LINKAGE_F1 = f"""
WITH RECURSIVE {_LINK_FILES_SQL},
{_derived_emb_sql('all_f', 'emb')},
pairs AS (
  SELECT a.id AS qid, b.id AS cid,
         sqrt(sum((a.val - b.val) * (a.val - b.val))) AS d
  FROM emb a JOIN emb b ON a.pos = b.pos AND a.id <> b.id
  GROUP BY a.id, b.id
),
bad AS (
  SELECT DISTINCT qid AS id FROM pairs
  WHERE qid < 1000000 AND cid < 1000000 AND d <= {_LINK_CLEAN_DIST}
),
cpairs AS (
  SELECT * FROM pairs
  WHERE (CASE WHEN qid >= 1000000 THEN qid - 1000000 ELSE qid END)
          NOT IN (SELECT id FROM bad)
    AND (CASE WHEN cid >= 1000000 THEN cid - 1000000 ELSE cid END)
          NOT IN (SELECT id FROM bad)
),
fwd AS (
  SELECT qid, cid, d,
         row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM cpairs
),
cand AS (SELECT qid, cid, d FROM fwd WHERE r <= {N_CAND}),
stats AS (SELECT qid AS sid, avg(d) AS s FROM cand GROUP BY qid),
scored AS (
  SELECT c.qid, c.cid, c.d, 2.0 * c.d - q.s - t.s AS d2
  FROM cand c JOIN stats q ON c.qid = q.sid JOIN stats t ON c.cid = t.sid
),
final AS (
  SELECT qid, cid, d, d2,
         row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS r
  FROM scored
),
matched AS (
  SELECT DISTINCT least(qid, cid) AS u, greatest(qid, cid) AS v
  FROM final WHERE r <= {TOP_K} AND d <= {_LINK_MAX_DIST}
),
sym AS (SELECT u, v FROM matched UNION SELECT v, u FROM matched),
reach(a, b) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
),
comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
clean_f AS (
  SELECT fid FROM all_f
  WHERE (CASE WHEN fid >= 1000000 THEN fid - 1000000 ELSE fid END)
          NOT IN (SELECT id FROM bad)
),
assign AS (
  SELECT f.fid AS id, coalesce(comp.component, f.fid) AS component
  FROM clean_f f LEFT JOIN comp ON f.fid = comp.id
),
pred AS (
  SELECT DISTINCT a.id AS u, b.id AS v
  FROM assign a JOIN assign b
    ON a.component = b.component AND a.id < b.id
),
gold AS (
  SELECT doc_id AS u, doc_id + 1000000 AS v FROM documents
  WHERE doc_id NOT IN (SELECT id FROM bad)
),
{_F1_COUNTS_SQL}
"""


def q_alignment_f1(spark, sf_dir):
    """Dual-space alignment gate, ORACLE-BACKED (r6 promotion): source =
    documents, target = one-token-edit copies; mutual-best CSLS matches
    with the raw-distance gate vs the identity gold alignment. Oracle
    replays the dual CSLS + mutual rank-1 + threshold in SQL; integer
    outputs."""
    from kiez_spark import synth
    from kiez_spark.linkage import align_files

    src = _files_from_docs(spark, sf_dir)
    tgt = synth.mutated_copy(src)
    res = align_files(
        spark, src, tgt, hubness="csls", max_dist=_LINK_MAX_DIST
    )
    gold = src.select(
        F.col("row_id").alias("src_id"),
        (F.col("row_id") + 1000000).alias("tgt_id"),
    )
    return _f1_micro_df(
        E.pairwise_f1(
            res.matches.select("src_id", "tgt_id"),
            gold,
            pred_cols=("src_id", "tgt_id"),
        )
    )


_ALIGN_DUAL_SQL = f"""
{_LINK_FILES_SQL},
{_derived_emb_sql('base_f', 'semb')},
{_derived_emb_sql('mut_f', 'temb')},
fwd_pairs AS (
  SELECT s.id AS qid, t.id AS cid,
         sqrt(sum((s.val - t.val) * (s.val - t.val))) AS d
  FROM semb s JOIN temb t ON s.pos = t.pos
  GROUP BY s.id, t.id
),
fwd AS (
  SELECT qid, cid, d,
         row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS r
  FROM fwd_pairs
),
cand AS (SELECT qid, cid, d FROM fwd WHERE r <= {N_CAND}),
rev AS (
  SELECT cid AS qid, qid AS cid, d,
         row_number() OVER (PARTITION BY cid ORDER BY d, qid) AS r
  FROM fwd_pairs
),
rcand AS (SELECT qid, cid, d FROM rev WHERE r <= {N_CAND}),
r_test AS (SELECT qid, avg(d) AS s FROM cand GROUP BY qid),
r_train AS (SELECT qid AS tid, avg(d) AS s FROM rcand GROUP BY qid),
fscored AS (
  SELECT c.qid, c.cid, c.d, 2.0 * c.d - q.s - t.s AS d2
  FROM cand c JOIN r_test q ON c.qid = q.qid JOIN r_train t ON c.cid = t.tid
),
ffinal AS (
  SELECT qid, cid, d, d2,
         row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS r
  FROM fscored
),
bscored AS (
  SELECT c.qid, c.cid, 2.0 * c.d - q.s - t.s AS d2
  FROM rcand c JOIN r_train q ON c.qid = q.tid JOIN r_test t ON c.cid = t.qid
),
bfinal AS (
  SELECT qid, cid, d2,
         row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS r
  FROM bscored
)
"""


SQL_ALIGNMENT_F1 = f"""
WITH {_ALIGN_DUAL_SQL},
pred AS (
  SELECT f.qid AS u, f.cid AS v
  FROM ffinal f
  JOIN bfinal b ON b.qid = f.cid AND b.cid = f.qid AND b.r = 1
  WHERE f.r = 1 AND f.d <= {_LINK_MAX_DIST}
),
gold AS (SELECT doc_id AS u, doc_id + 1000000 AS v FROM documents),
{_F1_COUNTS_SQL}
"""


def q_alignment_hits(spark, sf_dir):
    """hits@{{1,5}} of the forward CSLS top-k vs the identity gold
    alignment, ORACLE-BACKED (r6 promotion) — integer hits_micro like
    the hits_at_k row."""
    from kiez_spark import synth
    from kiez_spark.linkage import align_files

    src = _files_from_docs(spark, sf_dir)
    tgt = synth.mutated_copy(src)
    res = align_files(spark, src, tgt, hubness="csls", mutual=False)
    gold = src.select(
        F.col("row_id").alias("src_id"),
        (F.col("row_id") + 1000000).alias("tgt_id"),
    )
    return E.hits_at_k(res.forward, gold, ks=(1, 5)).select(
        "k",
        F.expr(
            "(n_hits div n_gold) * 1000000"
            " + ((n_hits % n_gold) * 1000000) div n_gold"
        ).cast("bigint").alias("hits_micro"),
    )


SQL_ALIGNMENT_HITS = f"""
WITH {_ALIGN_DUAL_SQL},
nn AS (SELECT qid, cid, r FROM ffinal WHERE r <= {TOP_K}),
gold AS (SELECT doc_id AS src_id, doc_id + 1000000 AS tgt_id FROM documents),
matched AS (
  SELECT g.src_id, min(nn.r) AS best_rank
  FROM gold g JOIN nn ON nn.qid = g.src_id AND nn.cid = g.tgt_id
  GROUP BY g.src_id
),
ks AS (SELECT unnest([1, 5]) AS k),
c AS (
  SELECT ks.k::INT AS k,
         coalesce(sum(CASE WHEN m.best_rank <= ks.k THEN 1 ELSE 0 END), 0)
           ::BIGINT AS n_hits,
         (SELECT count(*) FROM gold)::BIGINT AS n_gold
  FROM ks LEFT JOIN matched m ON true
  GROUP BY ks.k
)
SELECT k,
       ((n_hits // n_gold) * 1000000
        + ((n_hits % n_gold) * 1000000) // n_gold)::BIGINT AS hits_micro
FROM c
"""


def q_fs_pipeline_f1(spark, sf_dir):
    """Deterministic Fellegi-Sunter pipeline gate, ORACLE-BACKED: blocked
    docs2 candidates -> agreement booleans -> literal-(m,u) log2 scoring
    -> posterior-0.5 threshold (weight > 0, p = 0.5 prior) -> connected
    components -> pairwise F1 vs the planted (doc_id, doc_id+100000)
    gold. This is jobs/run_er.py's scoring->clustering->evaluation chain
    with the EM step pinned to literals, so the WHOLE chain sits under a
    DuckDB hash gate; EM estimation itself stays covered by
    fs_em_posteriors (rows-only by design) + pytest mixture recovery."""
    from kiez_spark.operators import clustering as CCl
    from kiez_spark.operators import er as ER

    pairs = _fs_pairs(spark, sf_dir)
    matched = (
        ER.fs_scores(pairs, _FS_FIELDS)
        .filter(F.col("weight_micro") > 0)
        .select("a_id", "b_id")
    )
    d2 = _docs2(spark, sf_dir)
    comps = CCl.connected_components(
        matched, nodes=d2.select("doc_id"), pair_cols=("a_id", "b_id")
    )
    gold = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("src_id"),
        (F.col("doc_id") + 100000).alias("tgt_id"),
    )
    return _f1_micro_df(
        E.pairwise_f1(E.clusters_to_pairs(comps), gold, pred_cols=("u", "v"))
    )


SQL_FS_PIPELINE_F1 = f"""
WITH RECURSIVE {_DOCS2_SQL},
{_ER_KEYED_SQL},
matched AS (
  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
  FROM keyed a
  JOIN keyed b ON a.blk = b.blk AND a.doc_id < b.doc_id
  JOIN ok ON a.blk = ok.blk
  JOIN documents al ON al.doc_id = a.doc_id % 100000
  JOIN documents bl ON bl.doc_id = b.doc_id % 100000
  WHERE CAST(floor(1e6 * ({_fs_sql_weight()})) AS BIGINT) > 0
),
sym AS (SELECT u, v FROM matched UNION SELECT v, u FROM matched),
reach(a, b) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
),
comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
assign AS (
  SELECT d.doc_id AS id, coalesce(comp.component, d.doc_id) AS component
  FROM docs2 d LEFT JOIN comp ON d.doc_id = comp.id
),
pred AS (
  SELECT DISTINCT a.id AS u, b.id AS v
  FROM assign a JOIN assign b
    ON a.component = b.component AND a.id < b.id
),
gold AS (SELECT doc_id AS u, doc_id + 100000 AS v FROM documents),
{_F1_COUNTS_SQL}
"""


def q_er_strict_retraction(spark, sf_dir):
    """STRICT incremental blocking proven against a full re-block (r6):
    corpus = documents, batch = mutated near-copies; df_cap=6 forces the
    shared trigram keys to CROSS the cap when the batch lands. Spark
    runs the strict chain — base pairs + batch-incident pairs MINUS
    crossed_cap_retractions — and the DuckDB oracle re-blocks the
    combined corpus from scratch, so a green row IS the strict-mode ==
    full-re-run equality, run in the gate every round (the monotone
    default's twin gate is er_incremental)."""
    from kiez_spark.operators import er as ER

    cap, m = 6, 3
    corpus = _docs(spark, sf_dir).select("doc_id", "text")
    batch = corpus.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"^\S+", "zzz").alias("text"),
    )
    keys = F.transform(T.shingles(T.tokens(F.col("text")), 3), T.token_hash)
    posting, stats = ER.build_blocking_index(corpus, keys, df_cap=cap)
    base = ER.metablocking_pairs(
        corpus, keys, df_cap=cap, min_cbs=m, top_n=None
    ).select("a_id", "b_id")
    inc = ER.incremental_blocking_pairs(
        batch, keys, posting, stats, df_cap=cap, min_cbs=m
    ).select("a_id", "b_id")
    retr = ER.crossed_cap_retractions(
        posting, stats, batch, keys, df_cap=cap, min_cbs=m
    )
    return (
        base.unionByName(inc)
        .distinct()
        .join(retr, ["a_id", "b_id"], "left_anti")
    )


SQL_ER_STRICT_RETRACTION = f"""
WITH {_DOCS2_SQL},
posting AS (
  SELECT DISTINCT doc_id AS id, k
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             {_shingles_sql(_TOKENS_SQL.format(col='text'), 3)},
             x -> {_H_SQL.format(s='x')})) AS k
    FROM docs2
  )
),
ok AS (SELECT k FROM posting GROUP BY k HAVING count(*) <= 6),
pp AS (SELECT p.id, p.k FROM posting p JOIN ok USING (k)),
pairs AS (
  SELECT a.id AS a_id, b.id AS b_id
  FROM pp a JOIN pp b ON a.k = b.k AND a.id < b.id
  GROUP BY a.id, b.id
  HAVING count(*) >= 3
)
SELECT a_id, b_id FROM pairs
"""


# ---------------------------------------------------------------- registry

QUERIES = {
    "knn_exact_euclidean": (q_knn_euclidean, SQL_KNN_EUCLIDEAN),
    "knn_exact_cosine": (q_knn_cosine, SQL_KNN_COSINE),
    "knn_exact_manhattan": (q_knn_manhattan, SQL_KNN_MANHATTAN),
    "knn_exact_minkowski3": (q_knn_minkowski3, SQL_KNN_MINKOWSKI3),
    "knn_exact_chebyshev": (q_knn_chebyshev, SQL_KNN_CHEBYSHEV),
    "knn_exact_canberra": (q_knn_canberra, SQL_KNN_CANBERRA),
    "knn_exact_braycurtis": (q_knn_braycurtis, SQL_KNN_BRAYCURTIS),
    "knn_exact_correlation": (q_knn_correlation, SQL_KNN_CORRELATION),
    "er_bcubed": (q_er_bcubed, SQL_ER_BCUBED),
    "knn_exact_hamming": (q_knn_hamming, SQL_KNN_HAMMING),
    "knn_exact_seuclidean": (q_knn_seuclidean, SQL_KNN_SEUCLIDEAN),
    "knn_exact_jaccard": (_q_knn_boolean("jaccard"), _sql_knn_boolean("jaccard")),
    "knn_exact_dice": (_q_knn_boolean("dice"), _sql_knn_boolean("dice")),
    "knn_exact_mahalanobis": (q_knn_mahalanobis, _sql_knn_mahalanobis()),
    "salted_join": (q_salted_join, SQL_SALTED_JOIN),
    "hubness_csls": (_hubness_query("csls"), SQL_HUBNESS_CSLS),
    "hubness_csls_dual": (q_hubness_csls_dual, SQL_HUBNESS_CSLS_DUAL),
    "hubness_ls": (_hubness_query("ls"), SQL_HUBNESS_LS),
    "hubness_ls_dual": (q_hubness_ls_dual, SQL_HUBNESS_LS_DUAL),
    "hubness_nicdm_dual": (_dual_query("nicdm"), SQL_HUBNESS_NICDM_DUAL),
    "hubness_mp_normal_dual": (_dual_query("mp_normal"), SQL_HUBNESS_MP_NORMAL_DUAL),
    "hubness_nicdm": (_hubness_query("nicdm"), SQL_HUBNESS_NICDM),
    "hubness_mp_normal": (_hubness_query("mp_normal"), SQL_HUBNESS_MP_NORMAL),
    "hubness_dsl": (_hubness_query("dsl"), SQL_HUBNESS_DSL),
    "hubness_mp_empiric": (q_mp_empiric, SQL_HUBNESS_MP_EMPIRIC),
    "k_occurrence": (q_k_occurrence, SQL_K_OCCURRENCE),
    "hubness_measures": (q_hubness_measures, SQL_HUBNESS_MEASURES),
    "atkinson_eps1": (q_atkinson_eps1, SQL_ATKINSON_EPS1),
    "hits_at_k": (q_hits_at_k, SQL_HITS_AT_K),
    "antihub_entities": (q_antihub_entities, SQL_ANTIHUB_ENTITIES),
    "hub_entities": (q_hub_entities, SQL_HUB_ENTITIES),
    "openea_split": (q_openea_split, SQL_OPENEA_SPLIT),
    "exact_dup_groups": (q_exact_dup_groups, SQL_EXACT_DUP_GROUPS),
    "minhash_signatures": (q_minhash_signatures, SQL_MINHASH_SIGNATURES),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, SQL_MINHASH_LSH_PAIRS),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, SQL_NGRAM_JACCARD_PAIRS),
    "jaccard_prefix_pairs": (q_jaccard_prefix_pairs, SQL_NGRAM_JACCARD_PAIRS),
    "winnow_fingerprints": (q_winnow_fingerprints, SQL_WINNOW_FINGERPRINTS),
    "winnow_pairs": (q_winnow_pairs, SQL_WINNOW_PAIRS),
    "incremental_winnow": (q_incremental_winnow, SQL_INCREMENTAL_WINNOW),
    "repo_clone_pairs": (q_repo_clone_pairs, SQL_REPO_CLONE_PAIRS),
    "simhash_fingerprints": (q_simhash_fingerprints, SQL_SIMHASH_FINGERPRINTS),
    "simhash_pairs": (q_simhash_pairs, SQL_SIMHASH_PAIRS),
    "embedding_neardup_pairs": (q_embedding_neardup, SQL_EMBEDDING_NEARDUP),
    "token_counts": (q_token_counts, SQL_TOKEN_COUNTS),
    "quality_features": (q_quality_features, SQL_QUALITY_FEATURES),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "doc_fingerprints": (q_fingerprints, SQL_FINGERPRINTS),
    "cc_clusters": (q_cc_clusters, SQL_CC_CLUSTERS),
    "component_size_histogram": (
        q_component_size_histogram,
        SQL_COMPONENT_SIZE_HISTOGRAM,
    ),
    "dedup_decisions": (q_dedup_decisions, SQL_DEDUP_DECISIONS),
    "incremental_neardup": (q_incremental_neardup, SQL_INCREMENTAL_NEARDUP),
    "er_incremental": (q_er_incremental, SQL_ER_INCREMENTAL),
    "er_strict_retraction": (q_er_strict_retraction, SQL_ER_STRICT_RETRACTION),
    "tfidf_top_terms": (q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    "bm25_search": (q_bm25_search, SQL_BM25_SEARCH),
    "scrub_text": (q_scrub_text, SQL_SCRUB_TEXT),
    "repetition_features": (q_repetition_features, SQL_REPETITION_FEATURES),
    "corpus_stats": (q_corpus_stats, SQL_CORPUS_STATS),
    "vocab_topk": (q_vocab_topk, SQL_VOCAB_TOPK),
    "quality_filter": (q_quality_filter, SQL_QUALITY_FILTER),
    "sample_by_hash": (q_sample_by_hash, SQL_SAMPLE_BY_HASH),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "lev_blocked_pairs": (q_lev_blocked_pairs, SQL_LEV_BLOCKED_PAIRS),
    "jaro_winkler_pairs": (q_jaro_winkler_pairs, SQL_JARO_WINKLER_PAIRS),
    "monge_elkan_pairs": (q_monge_elkan_pairs, SQL_MONGE_ELKAN_PAIRS),
    "snm_pairs": (q_snm_pairs, SQL_SNM_PAIRS),
    "tfidf_cosine_pairs": (q_tfidf_cosine_pairs, SQL_TFIDF_COSINE_PAIRS),
    "phonetic_blocks": (q_phonetic_blocks, SQL_PHONETIC_BLOCKS),
    "fs_match_scores": (q_fs_match_scores, SQL_FS_MATCH_SCORES),
    "fs_em_posteriors": (q_fs_em_posteriors, None),
    "er_fs_f1": (q_er_fs_f1, None),
    "fs_pipeline_f1": (q_fs_pipeline_f1, SQL_FS_PIPELINE_F1),
    "blocking_quality": (q_blocking_quality, SQL_BLOCKING_QUALITY),
    "metablocking_pairs": (q_metablocking_pairs, SQL_METABLOCKING_PAIRS),
    "url_dedup_groups": (q_url_dedup_groups, SQL_URL_DEDUP_GROUPS),
    "hash_split": (q_hash_split, SQL_HASH_SPLIT),
    "events_hourly": (q_events_hourly, SQL_EVENTS_HOURLY),
    "tpch_q1": (q_tpch_q1, SQL_TPCH_Q1),
    "tpch_q3": (q_tpch_q3, SQL_TPCH_Q3),
    "dedup_stream": (q_dedup_stream, SQL_DEDUP_STREAM),
    "online_neardup_flags": (q_online_neardup_flags, SQL_ONLINE_NEARDUP_FLAGS),
    "lsh_knn_cosine": (q_lsh_knn_cosine, None),
    "lsh_recall_report": (q_lsh_recall_report, None),
    "linkage_f1": (q_linkage_f1, SQL_LINKAGE_F1),
    "alignment_f1": (q_alignment_f1, SQL_ALIGNMENT_F1),
    "alignment_hits": (q_alignment_hits, SQL_ALIGNMENT_HITS),
    "linkage_f1_lsh": (q_linkage_f1_lsh, None),
    "linkage_f1_lsh_scale": (q_linkage_f1_lsh_scale, None),
}

# Queries whose build is bench-scale (multi-ten-second synthetic corpora,
# e.g. the n=20000 LSH linkage F1 gate, ~42 s) rather than sf0.01-sized.
# tools/check_oracles.py skips these in its default fast sweep (they stay
# pytest-gated in tests/test_synth_lsh_linkage.py) and includes them
# under --all; the driver's own gate is unaffected.
BENCH_SCALE = {"linkage_f1_lsh_scale"}
