"""Training-data pipeline operators over the documents/embeddings
tables, each value-checked against a DuckDB oracle (driver contract).

Coverage (SURVEY.md §2 "training-data pipeline" family):
  q16  point-in-polygon join, axis-aligned rects (SQL-checkable PIP —
       the generic engine path: broadcast cell cover + exact refine)
  q17  exact near-dup: token-set Jaccard pairs within source
  q18  MinHash + LSH banding candidate pairs
  q19  SimHash (16-bit) document signatures
  q20  winnowing document fingerprints (rolling window-min of hashes)
  q21  language-ID heuristic (marker-token scoring, pinned tie rule)
  q22  ANN: IVF cell assignment (seed-vector centroids)
  q23  ANN: IVF top-k search probing 2 nearest cells

Cross-engine determinism rules (both sides use the SAME formula):
- token hash h32(t) = int(md5(t)[:8hex], 16) — exact 32-bit integer in
  both engines (Spark: conv(substr(md5,1,8),16,10); DuckDB: positional
  hex-digit expansion, no conv equivalent);
- integer arithmetic end-to-end for signatures (mod 1e9+7 keeps every
  product < 2^63);
- float scores (cosine/jaccard) are list-folds in identical order →
  bitwise-equal doubles, rounded to 6dp for the value hash anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine import chains, shim

_T = lambda spark, sf_dir, name: spark.read.parquet(f"{sf_dir}/{name}.parquet")  # noqa: E731

P_MOD = 1_000_000_007
N_HASHES = 16
BAND_ROWS = 4  # 4 bands x 4 rows


def _toks(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def _h32(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# DuckDB h32: md5 hex prefix -> integer, digit by digit (no conv())
_H32_SQL = (
    "list_sum(list_transform(range(0, 8), i -> "
    "(strpos('0123456789abcdef', substr(md5({c}), CAST(i + 1 AS INT), 1)) - 1)"
    " * CAST(16 ** (7 - i) AS BIGINT)))"
)

_TOKS_SQL = r"regexp_split_to_array(trim(text), '\s+')"


# ---------------------------------------------------------------------------
# q16: PIP join against axis-aligned rectangles — the one polygon family
# a plain-SQL oracle can replicate exactly. Runs the ENGINE's generic
# path (broadcast cell cover at level 6 + vectorized ray-cast refine).
# ---------------------------------------------------------------------------

_RECTS = [
    {"poly_id": 1, "lat0": -5.0, "lat1": 8.0, "lon0": -60.0, "lon1": -45.0},
    # crosses the antimeridian: stored ring uses lon in (172, 188)
    {"poly_id": 2, "lat0": -20.0, "lat1": -8.0, "lon0": 172.0, "lon1": 188.0},
]


def _rect_rings() -> list[dict]:
    out = []
    for r in _RECTS:
        ring = [
            {"lat": r["lat0"], "lon": r["lon0"]},
            {"lat": r["lat0"], "lon": r["lon1"]},
            {"lat": r["lat1"], "lon": r["lon1"]},
            {"lat": r["lat1"], "lon": r["lon0"]},
            {"lat": r["lat0"], "lon": r["lon0"]},
        ]
        out.append({"poly_id": r["poly_id"], "ring": ring})
    return out


def q16_pip_rect(spark: SparkSession, sf: str) -> DataFrame:
    from engine import joins
    from engine.deploy import ensure_shipped

    ensure_shipped(spark)
    d = _T(spark, sf, "documents")
    pts = d.select(
        "doc_id",
        shim.shim_lat_col(F.col("doc_id")).alias("lat"),
        shim.shim_lon_col(F.col("doc_id")).alias("lon"),
    )
    hits = joins.pip_join(pts, _rect_rings(), level=6, spark=spark)
    return hits.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_pts"),
        F.sum("doc_id").alias("docid_sum"),
    )


Q16_SQL = f"""
WITH pts AS (
  SELECT doc_id, {shim.SHIM_LAT_SQL} AS lat, {shim.SHIM_LON_SQL} AS lon
  FROM documents
)
SELECT 1 AS poly_id, COUNT(*) AS n_pts, CAST(SUM(doc_id) AS BIGINT) AS docid_sum
FROM pts WHERE lat BETWEEN -5 AND 8 AND lon BETWEEN -60 AND -45
UNION ALL
SELECT 2 AS poly_id, COUNT(*) AS n_pts, CAST(SUM(doc_id) AS BIGINT) AS docid_sum
FROM pts WHERE lat BETWEEN -20 AND -8 AND (lon >= 172 OR lon <= 188 - 360)
"""


# ---------------------------------------------------------------------------
# q17: exact near-dup — token-set Jaccard pairs within a source
# ---------------------------------------------------------------------------

TOKEN_DF_CAP = 20  # per-source document-frequency cap on join tokens


def q17_token_jaccard(
    spark: SparkSession,
    sf: str,
    df_cap: int = TOKEN_DF_CAP,
    threshold: float = 0.8,
) -> DataFrame:
    """Token-set Jaccard near-dup within source, over DF-CAPPED token
    sets: tokens appearing in more than ``df_cap`` docs of a source
    are dropped BEFORE the self-join (they carry no discriminative
    Jaccard signal and their postings lists make the equi-join
    quadratic on Zipf-hot tokens — the 100 TB skew guard). Sizes and
    intersections both use the capped sets; oracle in lockstep.

    100-TB tuning: ``df_cap`` bounds every posting list (join fan-out
    <= df_cap^2/2 per token) — raise it only with a proportional
    executor-memory budget; ``threshold`` is the report cutoff and
    does not affect the join shape. Defaults are the oracle-pinned
    contract values."""
    d = _T(spark, sf, "documents").select("doc_id", "source", _toks(F.col("text")).alias("toks"))
    dt_all = d.select("source", "doc_id", F.explode("toks").alias("tok")).distinct()
    hot = (
        dt_all.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > F.lit(df_cap))
        .select("source", "tok")
    )
    dt = dt_all.join(hot, ["source", "tok"], "left_anti")
    sizes = dt.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = dt.alias("a"), dt.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.source") == F.col("b.source")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    j = inter.join(sa, "doc_a").join(sb, "doc_b")
    jac = F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
    return (
        j.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )


Q17_SQL = f"""
WITH dt_all AS (
  SELECT DISTINCT source, doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
),
dt AS (
  SELECT source, doc_id, tok FROM (
    SELECT source, doc_id, tok,
           COUNT(*) OVER (PARTITION BY source, tok) AS df
    FROM dt_all
  ) WHERE df <= {TOKEN_DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM dt GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM dt a JOIN dt b ON a.tok = b.tok AND a.source = b.source
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) >= 0.8
"""


# ---------------------------------------------------------------------------
# q18: MinHash (16 fns) + LSH banding (4 bands x 4 rows) candidate pairs
# ---------------------------------------------------------------------------

def q18_minhash_lsh(
    spark: SparkSession,
    sf: str,
    n_hashes: int = N_HASHES,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """MinHash (``n_hashes`` fns) + LSH banding (``n_hashes //
    band_rows`` bands x ``band_rows`` rows) candidate pairs.

    100-TB tuning: more bands (smaller ``band_rows``) raises recall and
    bucket-collision volume; longer bands lower it — candidates scale
    with bucket collisions, never all-pairs. Defaults are the
    oracle-pinned contract geometry (16 = 4x4)."""
    d = _T(spark, sf, "documents").select(
        "doc_id", "source", _toks(F.col("text")).alias("toks")
    )
    dt = d.select(
        "source", "doc_id", F.explode("toks").alias("tok")
    ).distinct().withColumn("h", _h32(F.col("tok")) % F.lit(P_MOD))
    hp = spark.range(n_hashes).select(
        F.col("id").alias("hid"),
        (2 * F.col("id") + 1).alias("a"),
        (7919 * F.col("id")).alias("b"),
    )
    sig = (
        dt.crossJoin(F.broadcast(hp))
        .groupBy("source", "doc_id", "hid")
        .agg(F.min((F.col("a") * F.col("h") + F.col("b")) % F.lit(P_MOD)).alias("mh"))
    )
    bands = (
        sig.withColumn("band", (F.col("hid") / F.lit(band_rows)).cast("int"))
        .groupBy("source", "doc_id", "band")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("hid", "mh"))),
                    lambda s: s["mh"].cast("string"),
                ),
            ).alias("band_key")
        )
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


_H32_TOK = _H32_SQL.format(c="tok")

Q18_SQL = f"""
WITH dt AS (
  SELECT DISTINCT source, doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
),
dh AS (SELECT source, doc_id, {_H32_TOK} % {P_MOD} AS h FROM dt),
hp AS (SELECT i AS hid, 2 * i + 1 AS a, 7919 * i AS b FROM range({N_HASHES}) t(i)),
sig AS (
  SELECT source, doc_id, hid, MIN((a * h + b) % {P_MOD}) AS mh
  FROM dh CROSS JOIN hp GROUP BY 1, 2, 3
),
bands AS (
  SELECT source, doc_id, CAST(hid // {BAND_ROWS} AS INT) AS band,
         string_agg(mh, ',' ORDER BY hid) AS band_key
  FROM sig GROUP BY 1, 2, 3
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
FROM bands a
JOIN bands b ON a.source = b.source AND a.band = b.band AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q19: SimHash — 16-bit signatures from token hashes
# ---------------------------------------------------------------------------

def q19_simhash(spark: SparkSession, sf: str) -> DataFrame:
    d = _T(spark, sf, "documents").select("doc_id", _toks(F.col("text")).alias("toks"))
    dt = d.select("doc_id", F.explode("toks").alias("tok")).distinct().withColumn(
        "h", _h32(F.col("tok"))
    )
    bits = spark.range(16).select(
        F.col("id").alias("bit"),
        F.pow(F.lit(2.0), F.col("id")).cast("long").alias("bitpow"),
    )
    # shiftright/shiftleft need literal bit counts — use exact integer
    # arithmetic with a precomputed 2^bit column instead (h < 2^32, so
    # double->long division is exact)
    per_bit = (
        dt.crossJoin(F.broadcast(bits))
        .withColumn(
            "vote",
            F.when((F.col("h") / F.col("bitpow")).cast("long") % 2 == 1, 1).otherwise(-1),
        )
        .groupBy("doc_id", "bit", "bitpow")
        .agg(F.sum("vote").alias("s"))
    )
    return (
        per_bit.withColumn(
            "bitval", F.when(F.col("s") > 0, F.col("bitpow")).otherwise(F.lit(0).cast("long"))
        )
        .groupBy("doc_id")
        .agg(F.sum("bitval").alias("simhash"))
    )


Q19_SQL = f"""
WITH dt AS (
  SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
),
dh AS (SELECT doc_id, {_H32_TOK} AS h FROM dt),
pb AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h // CAST(2 ** bit AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
  FROM dh CROSS JOIN (SELECT i AS bit FROM range(16) t(i))
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN CAST(2 ** bit AS BIGINT) ELSE 0 END) AS BIGINT)
         AS simhash
FROM pb GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q20: winnowing fingerprints — window-min of token hashes (w=5)
# ---------------------------------------------------------------------------

def q20_winnow_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    d = _T(spark, sf, "documents").select("doc_id", _toks(F.col("text")).alias("toks"))
    pt = d.select("doc_id", F.posexplode("toks").alias("pos", "tok")).withColumn(
        "h", _h32(F.col("tok"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 4)
    fp = pt.withColumn("fp", F.min("h").over(w))
    return fp.groupBy("doc_id").agg(
        F.countDistinct("fp").alias("n_fp"),
        F.min("fp").alias("fp_min"),
        F.max("fp").alias("fp_max"),
    )


Q20_SQL = f"""
WITH pt AS (
  SELECT doc_id, u.pos AS pos, u.tok AS tok
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(len({_TOKS_SQL})),
                  i -> struct_pack(pos := i, tok := {_TOKS_SQL}[CAST(i + 1 AS INT)]))) AS u
    FROM documents
  )
),
fp AS (
  SELECT doc_id,
         MIN({_H32_TOK}) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
  FROM pt
)
SELECT doc_id, COUNT(DISTINCT fp) AS n_fp,
       CAST(MIN(fp) AS BIGINT) AS fp_min, CAST(MAX(fp) AS BIGINT) AS fp_max
FROM fp GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q21: language-ID heuristic — marker-token scores, fixed priority tie rule
# ---------------------------------------------------------------------------

_MARKERS = {
    "en": ["the", "a", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "la"],
    "es": ["el", "y", "los"],
}
_LANG_ORDER = ["en", "de", "fr", "es"]  # tie rule: first in this order wins


def q21_langid(spark: SparkSession, sf: str) -> DataFrame:
    d = _T(spark, sf, "documents").select("doc_id", "lang", _toks(F.col("text")).alias("toks"))
    def _marker_count(markers: list[str]) -> Column:
        arr = F.array(*[F.lit(x) for x in markers])
        # F.filter inspects the lambda arity — must be a 1-arg closure
        return F.size(F.filter("toks", lambda t: F.array_contains(arr, t)))

    scores = {lg: _marker_count(m) for lg, m in _MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = F.when(best == 0, "und")
    for lg in _LANG_ORDER:
        pred = pred.when(scores[lg] == best, lg)
    out = d.withColumn("pred", pred)
    return out.groupBy(F.col("lang").alias("actual"), "pred").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def _score_sql(markers: list[str]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({_TOKS_SQL}, t -> t IN ({lst})))"


Q21_SQL = f"""
WITH scored AS (
  SELECT lang,
         {_score_sql(_MARKERS["en"])} AS s_en,
         {_score_sql(_MARKERS["de"])} AS s_de,
         {_score_sql(_MARKERS["fr"])} AS s_fr,
         {_score_sql(_MARKERS["es"])} AS s_es
  FROM documents
)
SELECT lang AS actual,
       CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
            WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
            WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es) THEN 'de'
            WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
            ELSE 'es' END AS pred,
       COUNT(*) AS n_docs
FROM scored GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q22/q23: IVF approximate nearest neighbor over embeddings
# ---------------------------------------------------------------------------

def _cos(a: Column, b: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    return dot / (nrm(a) * nrm(b))


_COS_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    " / (SQRT(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * x)))"
    " * SQRT(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * x))))"
)

N_CELLS = 8


def _assignments(spark: SparkSession, sf: str) -> DataFrame:
    e = _T(spark, sf, "embeddings")
    cents = e.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c_emb")
    )
    j = e.crossJoin(F.broadcast(cents)).withColumn(
        "cos_c", _cos(F.col("embedding"), F.col("c_emb"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_c").desc(), F.col("cell_id"))
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell_id", "embedding", "cos_c")
    )


_ASSIGN_SQL = f"""
  SELECT vec_id, cell_id, embedding, cos_c FROM (
    SELECT e.vec_id, c.vec_id AS cell_id, e.embedding,
           {_COS_SQL.format(a="e.embedding", b="c.embedding")} AS cos_c,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_COS_SQL.format(a="e.embedding", b="c.embedding")} DESC,
                                       c.vec_id) AS rn
    FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < {N_CELLS}) c
  ) WHERE rn = 1
"""


def q22_ivf_assign(spark: SparkSession, sf: str) -> DataFrame:
    asg = _assignments(spark, sf)
    return asg.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("cos_c"), 6).alias("avg_cos"),
    )


Q22_SQL = f"""
WITH asg AS ({_ASSIGN_SQL})
SELECT cell_id, COUNT(*) AS n_vecs, ROUND(AVG(cos_c), 6) AS avg_cos
FROM asg GROUP BY cell_id
"""

_IVF_QUERIES = [10, 11, 12]
N_PROBE = 2
TOP_K = 3


def q23_ivf_search(spark: SparkSession, sf: str) -> DataFrame:
    e = _T(spark, sf, "embeddings")
    asg = _assignments(spark, sf).select("vec_id", "cell_id", "embedding")
    cents = e.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c_emb")
    )
    q = e.filter(F.col("vec_id").isin(_IVF_QUERIES)).select(
        F.col("vec_id").alias("q_vec"), F.col("embedding").alias("q_emb")
    )
    # probe list: the N_PROBE centroids nearest to each query
    qc = q.crossJoin(F.broadcast(cents)).withColumn(
        "cos_c", _cos(F.col("q_emb"), F.col("c_emb"))
    )
    wq = Window.partitionBy("q_vec").orderBy(F.col("cos_c").desc(), F.col("cell_id"))
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= N_PROBE)
        .select("q_vec", "q_emb", "cell_id")
    )
    cand = probes.join(asg, "cell_id").filter(F.col("q_vec") != F.col("vec_id"))
    scored = cand.withColumn("cos_sim", _cos(F.col("q_emb"), F.col("embedding")))
    wr = Window.partitionBy("q_vec").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= TOP_K)
        .select("q_vec", "rank", "vec_id", F.round("cos_sim", 6).alias("cos_sim"))
    )


Q23_SQL = f"""
WITH asg AS ({_ASSIGN_SQL}),
q AS (SELECT vec_id AS q_vec, embedding AS q_emb FROM embeddings
      WHERE vec_id IN ({", ".join(map(str, _IVF_QUERIES))})),
probes AS (
  SELECT q_vec, q_emb, cell_id FROM (
    SELECT q.q_vec, q.q_emb, c.vec_id AS cell_id,
           ROW_NUMBER() OVER (PARTITION BY q.q_vec
                              ORDER BY {_COS_SQL.format(a="q.q_emb", b="c.embedding")} DESC,
                                       c.vec_id) AS rn
    FROM q CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < {N_CELLS}) c
  ) WHERE rn <= {N_PROBE}
),
cand AS (
  SELECT p.q_vec, a.vec_id,
         {_COS_SQL.format(a="p.q_emb", b="a.embedding")} AS cos_sim
  FROM probes p JOIN asg a ON a.cell_id = p.cell_id
  WHERE p.q_vec <> a.vec_id
)
SELECT q_vec, rank, vec_id, ROUND(cos_sim, 6) AS cos_sim
FROM (
  SELECT q_vec, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_vec ORDER BY cos_sim DESC, vec_id) AS rank
  FROM cand
) WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# q24: kNN via k-ring expansion with early termination (J3) — the ENGINE
# path; oracle = the brute-force haversine top-k SQL (identical results
# are the whole point of the early-termination bound)
# ---------------------------------------------------------------------------

def q24_knn_kring(spark: SparkSession, sf: str) -> DataFrame:
    from engine import joins
    from engine.deploy import ensure_shipped
    from engine.queries import _KNN_QUERIES

    ensure_shipped(spark)
    d = _T(spark, sf, "documents")
    pts = d.select(
        "doc_id",
        shim.shim_lat_col(F.col("doc_id")).alias("lat"),
        shim.shim_lon_col(F.col("doc_id")).alias("lon"),
    )
    qdf = spark.createDataFrame(_KNN_QUERIES, "q_id long, lat double, lon double")
    out = joins.knn_join(qdf, pts, k=5, level=6, spark=spark)
    return out.select(
        "q_id", "rank", "doc_id", F.round("dist_km", 6).alias("dist_km")
    )


def _q24_sql() -> str:
    from engine.queries import Q11_SQL

    return Q11_SQL


def q19_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """D4+D5 consolidated (one driver row, both operators exercised):
    16-bit SimHash joined with the w=5 winnowing fingerprint summary
    per document — same registry semantics as the former q19_simhash /
    q20_winnow_fingerprint entries."""
    return q19_simhash(spark, sf).join(
        q20_winnow_fingerprint(spark, sf), "doc_id"
    )


Q19_FP_SQL = f"""
SELECT s.doc_id, s.simhash, w.n_fp, w.fp_min, w.fp_max
FROM ({Q19_SQL}) s JOIN ({Q20_SQL}) w ON w.doc_id = s.doc_id
"""


def q22_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """D10 consolidated (one driver row, both stages exercised): IVF
    cell assignment summary ('assign' rows: cell_id/n_vecs/avg_cos)
    unioned with probe-2 top-3 search results ('search' rows:
    q_vec/rank/vec_id/cos_sim) — former q22_ivf_assign /
    q23_ivf_search entries."""
    a = q22_ivf_assign(spark, sf).select(
        F.lit("assign").alias("part"),
        F.col("cell_id").cast("long").alias("a"),
        F.col("n_vecs").cast("long").alias("b"),
        F.lit(0).cast("long").alias("c"),
        F.col("avg_cos").alias("v"),
    )
    b = q23_ivf_search(spark, sf).select(
        F.lit("search").alias("part"),
        F.col("q_vec").cast("long").alias("a"),
        F.col("rank").cast("long").alias("b"),
        F.col("vec_id").cast("long").alias("c"),
        F.col("cos_sim").alias("v"),
    )
    return a.unionAll(b)


Q22_IVF_SQL = f"""
SELECT 'assign' AS part, CAST(cell_id AS BIGINT) AS a,
       CAST(n_vecs AS BIGINT) AS b, CAST(0 AS BIGINT) AS c, avg_cos AS v
FROM ({Q22_SQL})
UNION ALL
SELECT 'search', CAST(q_vec AS BIGINT), CAST(rank AS BIGINT),
       CAST(vec_id AS BIGINT), cos_sim
FROM ({Q23_SQL})
"""


def q37_neardup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """D21 (round 4): near-duplicate CLUSTER assignment + canonical
    selection — the dedup DECISION stage a training pipeline runs
    downstream of MinHash-LSH (q18). Each connected component of the
    undirected match graph becomes one cluster with cluster_id = the
    lexicographically SMALLEST member doc_id; keep = 1 on that
    canonical member, 0 on the near-dups to drop. Singleton
    (unmatched) docs are not emitted (pinned).

    Scale design: distributed min-label propagation over MATCH-GRAPH
    rows only (never the corpus) through ``chains.components``, the
    patch-stitching fixpoint — per round, one groupBy over the edge
    list moves labels one hop, each node's old root adopts the new
    minimum, and one label-of-label join jumps the pointers;
    localCheckpoint-bounded lineage.
    The oracle replays plain min-label Jacobi sweeps in a recursive
    CTE (the fixture graph's diameter is small; sweeps are pinned with
    2x margin)."""
    pairs = q18_minhash_lsh(spark, sf).select("doc_a", "doc_b")
    return neardup_clusters(pairs)


def neardup_clusters(pairs: DataFrame) -> DataFrame:
    """Connected components + canonical selection over an undirected
    match-pair DataFrame (doc_a, doc_b) — the reusable core of q37
    (pinned semantics there), run by ``chains.components``. Tested on
    synthetic chain graphs (multi-hop convergence) in
    tests/test_text_scale.py."""
    edges = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).localCheckpoint(eager=True)
    docs = edges.select(F.col("a").alias("doc")).union(edges.select("b")).distinct()
    labels = chains.components(edges, docs, "neardup_clusters").select(
        F.col("node").alias("doc"), F.col("root").alias("lab")
    )
    sizes = labels.groupBy("lab").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "lab").select(
        F.col("doc").alias("doc_id"),
        F.col("lab").alias("cluster_id"),
        "cluster_size",
        (F.col("doc") == F.col("lab")).cast("int").alias("keep"),
    )


# min-label Jacobi mirror: self-loops make "own label" one more MIN arm;
# 24 sweeps — LSH matches form near-cliques (observed label
# eccentricity 1-3 at the driver scale factors), so this is an ~8x
# margin; the ENGINE converges at any diameter (doubling + convergence
# check), so a graph that ever outgrew the sweep budget would surface
# as an oracle-side mismatch on CORRECT engine output — raise the
# constant with the fixture, never lower the engine rounds
Q37_SQL = f"""
WITH RECURSIVE pairs AS (
  {Q18_SQL}
),
nedges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
  UNION
  SELECT doc_a, doc_a FROM pairs
  UNION
  SELECT doc_b, doc_b FROM pairs
),
lab(it, doc, lab) AS (
  SELECT 0, s, s FROM (SELECT DISTINCT s FROM nedges)
  UNION ALL
  SELECT l.it + 1, e.d, MIN(l.lab)
  FROM lab l JOIN nedges e ON e.s = l.doc
  WHERE l.it < 24
  GROUP BY l.it + 1, e.d
),
final AS (SELECT doc, lab FROM lab WHERE it = 24),
sizes AS (SELECT lab, COUNT(*) AS cluster_size FROM final GROUP BY 1)
SELECT f.doc AS doc_id, f.lab AS cluster_id,
       CAST(s.cluster_size AS BIGINT) AS cluster_size,
       CAST(f.doc = f.lab AS INT) AS keep
FROM final f JOIN sizes s ON s.lab = f.lab
"""


TEXT_QUERIES = {
    "q16_pip_rect": (q16_pip_rect, Q16_SQL),
    "q17_token_jaccard": (q17_token_jaccard, Q17_SQL),
    "q18_minhash_lsh": (q18_minhash_lsh, Q18_SQL),
    "q19_fingerprints": (q19_fingerprints, Q19_FP_SQL),
    "q21_langid": (q21_langid, Q21_SQL),
    "q22_ivf": (q22_ivf, Q22_IVF_SQL),
}


TEXT_QUERIES["q37_neardup_clusters"] = (q37_neardup_clusters, Q37_SQL)


def _register_q24() -> None:
    TEXT_QUERIES["q24_knn_kring"] = (q24_knn_kring, _q24_sql())


_register_q24()


# ---------------------------------------------------------------------------
# q25: embedding-cosine near-dup via REAL banded SRP-LSH (D14).
#
# Scale design (the round-1 version used 4 sign bits = 16 global
# buckets, i.e. n²/16 candidate pairs — nominally bucketed, actually
# quadratic): now SRP_BANDS=4 banded hash tables × SRP_ROWS=8
# hyperplane sign bits each (32 deterministic pseudo-random
# hyperplanes). A candidate pair must agree on ALL 8 bits of ≥1 band —
# expected collisions for unrelated vectors ≈ 4·C(n,2)/2⁸, so the
# band-key equi-join shuffles a ~64× sublinear candidate set (asserted
# by tests/test_text_scale.py on the 10× fixture); near-dups (cos ≥
# TAU) collide with probability ≈ 1−(1−p_bit⁸)⁴ ≈ 1 at θ ≲ 1°.
#
# The driver tables carry no true near-dups (max pairwise cos ≈ 0.51),
# so the corpus is augmented with one deterministic perturbed clone per
# vector (±0.05% per-dim scaling, pure arithmetic both engines) — the
# standard eval trick for dedup recall, and the oracle builds the
# identical corpus.
# ---------------------------------------------------------------------------

SRP_BANDS = 4
SRP_ROWS = 8
NEARDUP_TAU = 0.98
_CLONE_OFFSET = 1_000_000
_DIM = 64


def _neardup_corpus(spark: SparkSession, sf: str) -> DataFrame:
    e = _T(spark, sf, "embeddings")
    orig = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    idx = F.sequence(F.lit(0), F.lit(_DIM - 1))
    fac = lambda d: (  # noqa: E731
        F.lit(1.0)
        + F.lit(0.001)
        * (
            ((F.col("vec_id") * _DIM + d + 1) * F.lit(2654435761)) % F.lit(2**32)
            / F.lit(float(2**32))
            - F.lit(0.5)
        )
    )
    clone = e.select(
        (F.col("vec_id") + _CLONE_OFFSET).alias("vec_id"),
        F.transform(
            idx,
            lambda d: F.element_at("embedding", d + 1).cast("double") * fac(d),
        ).alias("emb"),
    )
    return orig.unionAll(clone)


def _srp_signatures(
    corpus: DataFrame, srp_bands: int = SRP_BANDS, srp_rows: int = SRP_ROWS
) -> DataFrame:
    """(vec_id, band, key): key = ``srp_rows``-bit sign pattern of the
    band's hyperplane dots. Hyperplane k component d =
    hashfrac(k·64+d+1)−0.5; everything is JVM higher-order functions —
    no UDF.

    100-TB tuning: recall ~ 1−(1−s^srp_rows)^srp_bands for cosine
    similarity s — add bands for recall (linear cost), add rows for
    precision (smaller buckets). Defaults are the oracle-pinned 4x8."""
    w = lambda k, d: (  # noqa: E731
        ((k * _DIM + d + 1) * F.lit(2654435761)) % F.lit(2**32) / F.lit(float(2**32))
        - F.lit(0.5)
    )
    dot = F.aggregate(
        F.sequence(F.lit(0), F.lit(_DIM - 1)),
        F.lit(0.0),
        lambda acc, d: acc + F.element_at("emb", d + 1) * w(F.col("k"), d),
    )
    return (
        corpus.select("vec_id", "emb", F.explode(F.sequence(F.lit(0), F.lit(srp_bands * srp_rows - 1))).alias("k"))
        .withColumn("dot", dot)
        .groupBy("vec_id", (F.col("k") / F.lit(srp_rows)).cast("int").alias("band"))
        .agg(
            F.sum(
                F.when(
                    F.col("dot") > 0,
                    F.pow(F.lit(2.0), F.col("k") % F.lit(srp_rows)).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("key")
        )
    )


def neardup_candidates(
    corpus: DataFrame, srp_bands: int = SRP_BANDS, srp_rows: int = SRP_ROWS
) -> DataFrame:
    """Distinct candidate pairs sharing ≥1 band bucket (the sublinear
    LSH join — also exercised standalone by the scale test)."""
    sig = _srp_signatures(corpus, srp_bands, srp_rows)
    a = sig.select(F.col("vec_id").alias("vec_a"), "band", "key")
    b = sig.select(F.col("vec_id").alias("vec_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


def q25_embedding_neardup(
    spark: SparkSession,
    sf: str,
    srp_bands: int = SRP_BANDS,
    srp_rows: int = SRP_ROWS,
    tau: float = NEARDUP_TAU,
) -> DataFrame:
    corpus = _neardup_corpus(spark, sf)
    cand = neardup_candidates(corpus, srp_bands, srp_rows)
    ea = corpus.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("emb_a"))
    eb = corpus.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("emb_b"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        # the ONE pinned cosine (emb is already double; _cos's inner
        # casts are no-ops) — an inline copy here drifted from _cos
        .withColumn("cos_sim", _cos(F.col("emb_a"), F.col("emb_b")))
        .filter(F.col("cos_sim") >= F.lit(tau))
        .select("vec_a", "vec_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


_W_SQL = "((({k} * 64 + d + 1) * 2654435761) % 4294967296 / 4294967296 - 0.5)"

_CORPUS_SQL = f"""
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
  UNION ALL
  SELECT vec_id + {_CLONE_OFFSET},
         list_transform(range(0, {_DIM}), d ->
           CAST(embedding[CAST(d + 1 AS INT)] AS DOUBLE)
           * (1.0 + 0.001 * (((vec_id * {_DIM} + d + 1) * 2654435761) % 4294967296
                             / 4294967296 - 0.5)))
  FROM embeddings
"""

# alias: q25's oracle shares the ONE pinned cosine template
_COS_D_SQL = _COS_SQL

Q25_SQL = f"""
WITH corpus AS ({_CORPUS_SQL}),
sig AS (
  SELECT vec_id, CAST(k // {SRP_ROWS} AS INT) AS band,
         CAST(SUM(CASE WHEN
           list_sum(list_transform(range(0, {_DIM}), d ->
             emb[CAST(d + 1 AS INT)] * {_W_SQL.format(k="k")})) > 0
           THEN CAST(2 ** (k % {SRP_ROWS}) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS key
  FROM corpus CROSS JOIN range(0, {SRP_BANDS * SRP_ROWS}) t(k)
  GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sig a JOIN sig b ON a.band = b.band AND a.key = b.key
  WHERE a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b,
       ROUND({_COS_D_SQL.format(a="ea.emb", b="eb.emb")}, 6) AS cos_sim
FROM cand c
JOIN corpus ea ON ea.vec_id = c.vec_a
JOIN corpus eb ON eb.vec_id = c.vec_b
WHERE {_COS_D_SQL.format(a="ea.emb", b="eb.emb")} >= {NEARDUP_TAU}
"""


# ---------------------------------------------------------------------------
# q26: gap-based sessionization (batch sibling of the streaming session
# window, §2.8-T4): per-user sessions split at >30 min inactivity via
# lag + running sum — one shuffle on user_id, all JVM window functions.
# Integer microsecond arithmetic keeps the gap test exact cross-engine.
# ---------------------------------------------------------------------------

SESSION_GAP_US = 1_800 * 1_000_000


def q26_user_sessions(spark: SparkSession, sf: str) -> DataFrame:
    e = _T(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; session tz is pinned UTC, so the cast is a
    # pure re-tag and unix_micros matches DuckDB's epoch_us on the naive value
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    s = e.withColumn(
        "new_s", F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    ).withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per = s.groupBy("user_id", "session_id").agg(F.count("*").alias("n_ev"))
    return per.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_ev").alias("n_events"),
        F.max("n_ev").alias("longest_session"),
    )


Q26_SQL = f"""
WITH o AS (
  SELECT user_id, event_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM o
),
per AS (
  SELECT user_id, session_id, COUNT(*) AS n_ev FROM s GROUP BY 1, 2
)
SELECT user_id, COUNT(*) AS n_sessions,
       CAST(SUM(n_ev) AS BIGINT) AS n_events,
       MAX(n_ev) AS longest_session
FROM per GROUP BY user_id
"""

TEXT_QUERIES["q25_embedding_neardup"] = (q25_embedding_neardup, Q25_SQL)
TEXT_QUERIES["q26_user_sessions"] = (q26_user_sessions, Q26_SQL)


# ---------------------------------------------------------------------------
# q27: set operators (Q6 — intersect / except / union) as customer
# cohort segmentation across two order years. Each branch is a distinct
# on a single column after a pushed-down year filter, so at scale this
# is three pruned scans + one shuffle each — no joins.
# ---------------------------------------------------------------------------

def q27_customer_setops(spark: SparkSession, sf: str) -> DataFrame:
    o = _T(spark, sf, "orders")
    yr = lambda y: (  # noqa: E731
        o.filter(F.year("o_orderdate") == y).select("o_custkey").distinct()
    )
    a, b = yr(1995), yr(1996)
    seg = lambda df, name: df.agg(  # noqa: E731
        F.lit(name).alias("segment"), F.count("*").alias("n_customers")
    )
    return (
        seg(a.intersect(b), "both")
        .unionAll(seg(a.exceptAll(b), "only_1995"))
        .unionAll(seg(b.exceptAll(a), "only_1996"))
        .select("segment", "n_customers")
    )


Q27_SQL = """
WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
     b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
SELECT 'both' AS segment, COUNT(*) AS n_customers FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
UNION ALL
SELECT 'only_1995', COUNT(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
UNION ALL
SELECT 'only_1996', COUNT(*) FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
"""

TEXT_QUERIES["q27_customer_setops"] = (q27_customer_setops, Q27_SQL)


# ---------------------------------------------------------------------------
# q28: CUBE aggregation (A4 — q03 covers ROLLUP; this covers the full
# grouping-set lattice) over events: all four (event_type × weekday)
# grouping combinations in one pass. Spark plans this as a single
# expand+hash-agg — at scale one shuffle regardless of lattice size.
# ---------------------------------------------------------------------------

def q28_event_cube(spark: SparkSession, sf: str) -> DataFrame:
    e = _T(spark, sf, "events").select(
        "event_type",
        F.dayofweek("ts").alias("weekday"),
        "value",
    )
    # integer-cents sum then ONE division: bitwise-identical doubles in
    # both engines regardless of accumulation order (engine/queries.py)
    cents = F.round(F.col("value") * 100).cast("long")
    return e.cube("event_type", "weekday").agg(
        F.count("*").alias("n_events"),
        (F.sum(cents) / 100.0).alias("sum_value"),
    )


Q28_SQL = """
SELECT event_type, weekday, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM (SELECT event_type, dayofweek(ts) + 1 AS weekday, value FROM events)
GROUP BY CUBE (event_type, weekday)
"""

TEXT_QUERIES["q28_event_cube"] = (q28_event_cube, Q28_SQL)


# ---------------------------------------------------------------------------
# q29: ranking + analytic window functions (Q1/Q2 rows not exercised
# elsewhere): per-priority order quartiles via ntile, dense_rank over
# rounded price bands, and lead() price deltas — one shuffle on the
# window partition key.
# ---------------------------------------------------------------------------

def q29_order_rank_analytics(spark: SparkSession, sf: str) -> DataFrame:
    o = _T(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    ranked = o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
        F.dense_rank().over(w).alias("drank"),
        F.round(
            F.coalesce(F.lead("o_totalprice").over(w), F.lit(0.0))
            - F.col("o_totalprice"),
            6,
        ).alias("next_delta"),
    )
    return (
        ranked.groupBy("o_orderpriority", "quartile")
        .agg(
            F.count("*").alias("n_orders"),
            F.max("drank").alias("max_drank"),
            F.round(F.sum("next_delta"), 4).alias("sum_next_delta"),
        )
    )


Q29_SQL = """
WITH ranked AS (
  SELECT o_orderpriority,
         NTILE(4) OVER w AS quartile,
         DENSE_RANK() OVER w AS drank,
         ROUND(COALESCE(LEAD(o_totalprice) OVER w, 0.0) - o_totalprice, 6)
           AS next_delta
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey)
)
SELECT o_orderpriority, quartile, COUNT(*) AS n_orders,
       MAX(drank) AS max_drank,
       ROUND(SUM(next_delta), 4) AS sum_next_delta
FROM ranked GROUP BY o_orderpriority, quartile
"""

TEXT_QUERIES["q29_order_rank_analytics"] = (q29_order_rank_analytics, Q29_SQL)


# ---------------------------------------------------------------------------
# q38: exact substring-span dedup (the "duplicated training-data spans"
# operator of Lee et al. 2022, n-gram granularity): a window of N
# consecutive tokens that occurs more than once ANYWHERE in the corpus
# is a duplicated span. Distributed shape: explode token windows
# map-side, ONE two-phase hash agg on the gram key for corpus counts,
# ONE gram-key equi-join back (co-partitioned with the agg, no
# broadcast of an unbounded dup set), then per-doc/per-source rollup —
# every stage is a plain shuffle-on-key plan that survives 100 TB.
# ---------------------------------------------------------------------------

_SPAN_N = 8


def q38_span_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source duplicated-span profile: window count, windows whose
    8-gram repeats corpus-wide, docs containing any such span, ratio."""
    n = _SPAN_N
    d = _T(spark, sf, "documents").select(
        "doc_id", "source", _toks(F.col("text")).alias("tk")
    )
    w = d.select("doc_id", "source", F.explode(_gram_md5(n)).alias("g"))
    gc = w.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    wd = w.join(gc.filter(F.col("c") > 1).select("g"), "g")
    docs = wd.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("ndw")
    )
    tot = w.groupBy("source").agg(F.count(F.lit(1)).alias("total_windows"))
    return (
        tot.join(docs, "source", "left")
        .groupBy("source", "total_windows")
        .agg(
            F.coalesce(F.sum("ndw"), F.lit(0)).cast("long").alias("dup_windows"),
            F.count("doc_id").cast("long").alias("docs_with_dup"),
            F.round(
                F.coalesce(F.sum("ndw"), F.lit(0))
                / F.col("total_windows").cast("double"),
                6,
            ).alias("dup_ratio"),
        )
        .select(
            "source", "total_windows", "dup_windows", "docs_with_dup",
            "dup_ratio",
        )
    )


Q38_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS_SQL} AS tk FROM documents
),
w AS (
  SELECT doc_id, source,
         unnest(list_transform(range(0, len(tk) - {_SPAN_N - 1}),
                i -> md5(array_to_string(
                       tk[CAST(i + 1 AS INT):CAST(i + {_SPAN_N} AS INT)],
                       ' ')))) AS g
  FROM toks WHERE len(tk) >= {_SPAN_N}
),
gc AS (SELECT g, COUNT(*) AS c FROM w GROUP BY g),
wd AS (SELECT w.doc_id, w.source, w.g
       FROM w JOIN gc ON gc.g = w.g AND gc.c > 1),
docs AS (SELECT doc_id, source, COUNT(*) AS ndw FROM wd GROUP BY 1, 2),
tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS total_windows
        FROM w GROUP BY 1)
SELECT t.source, t.total_windows,
       CAST(COALESCE(SUM(d.ndw), 0) AS BIGINT) AS dup_windows,
       CAST(COUNT(d.doc_id) AS BIGINT) AS docs_with_dup,
       ROUND(COALESCE(SUM(d.ndw), 0) / CAST(t.total_windows AS DOUBLE), 6)
         AS dup_ratio
FROM tot t LEFT JOIN docs d ON d.source = t.source
GROUP BY 1, 2
"""

TEXT_QUERIES["q38_span_dedup"] = (q38_span_dedup, Q38_SQL)


# ---------------------------------------------------------------------------
# q39: benchmark decontamination check — the standard pre-training
# hygiene op (e.g. GPT-3 appendix C / PaLM "test-set contamination"):
# flag TRAINING documents that share any N-token window with a
# held-out BENCHMARK set. The benchmark here is carved
# deterministically from the corpus itself (doc_id % 97 == 0, ~1%) —
# no external data, and the carve rule is mirrored in the oracle.
#
# Distributed shape — deliberately the OPPOSITE of q38: benchmark gram
# sets are tiny relative to the corpus (an eval suite is MBs against
# 100 TB), so the dup-gram side is DISTINCT'd and BROADCAST, and the
# corpus-sized window stream semi-joins against it map-side with zero
# shuffle of train windows. q38's shuffle-join shape is what you use
# when the dup set is unbounded; this broadcast shape is what you use
# when it provably isn't — which is why the carve below is BOUNDED
# (doc_id < BENCH_MOD**2 AND doc_id % BENCH_MOD == 0 ⇒ at most
# BENCH_MOD docs at ANY corpus size), matching how a real benchmark
# set is fixed while the training corpus grows.
# ---------------------------------------------------------------------------

_BENCH_MOD = 97


def _gram_md5(n: int) -> Column:
    """array<md5(n-token window)> of the tokenized `tk` column."""
    return F.when(
        F.size("tk") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("tk") - n),
            lambda i: F.md5(F.concat_ws(" ", F.slice("tk", i + 1, n))),
        ),
    ).otherwise(F.array().cast("array<string>"))


def q39_decontamination(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source contamination profile of the training split: train
    docs, docs sharing >= 1 benchmark 8-gram, overlapping windows,
    contaminated-doc ratio."""
    n = _SPAN_N
    d = _T(spark, sf, "documents").select(
        "doc_id", "source", _toks(F.col("text")).alias("tk")
    )
    is_bench = (F.col("doc_id") % _BENCH_MOD == 0) & (
        F.col("doc_id") < _BENCH_MOD * _BENCH_MOD
    )
    bench_g = (
        d.filter(is_bench)
        .select(F.explode(_gram_md5(n)).alias("g"))
        .distinct()
    )
    train = d.filter(~is_bench)
    tw = train.select(
        "doc_id", "source", F.explode(_gram_md5(n)).alias("g")
    )
    hits = (
        tw.join(F.broadcast(bench_g), "g")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("nw"))
    )
    base = train.groupBy("source").agg(
        F.count(F.lit(1)).alias("train_docs")
    )
    return (
        base.join(hits, "source", "left")
        .groupBy("source", "train_docs")
        .agg(
            F.count("doc_id").cast("long").alias("contaminated_docs"),
            F.coalesce(F.sum("nw"), F.lit(0)).cast("long")
             .alias("overlap_windows"),
            F.round(
                F.count("doc_id") / F.col("train_docs").cast("double"), 6
            ).alias("contaminated_ratio"),
        )
        .select(
            "source", "train_docs", "contaminated_docs",
            "overlap_windows", "contaminated_ratio",
        )
    )


Q39_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS_SQL} AS tk FROM documents
),
grams AS (
  SELECT doc_id, source,
         unnest(list_transform(range(0, len(tk) - {_SPAN_N - 1}),
                i -> md5(array_to_string(
                       tk[CAST(i + 1 AS INT):CAST(i + {_SPAN_N} AS INT)],
                       ' ')))) AS g
  FROM toks WHERE len(tk) >= {_SPAN_N}
),
bench AS (
  SELECT DISTINCT g FROM grams
  WHERE doc_id % {_BENCH_MOD} = 0 AND doc_id < {_BENCH_MOD * _BENCH_MOD}
),
hits AS (
  SELECT w.doc_id, w.source, COUNT(*) AS nw
  FROM grams w JOIN bench b ON b.g = w.g
  WHERE NOT (w.doc_id % {_BENCH_MOD} = 0
             AND w.doc_id < {_BENCH_MOD * _BENCH_MOD})
  GROUP BY 1, 2
),
base AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS train_docs
  FROM documents
  WHERE NOT (doc_id % {_BENCH_MOD} = 0
             AND doc_id < {_BENCH_MOD * _BENCH_MOD})
  GROUP BY 1
)
SELECT b.source, b.train_docs,
       CAST(COUNT(h.doc_id) AS BIGINT) AS contaminated_docs,
       CAST(COALESCE(SUM(h.nw), 0) AS BIGINT) AS overlap_windows,
       ROUND(COUNT(h.doc_id) / CAST(b.train_docs AS DOUBLE), 6)
         AS contaminated_ratio
FROM base b LEFT JOIN hits h ON h.source = b.source
GROUP BY 1, 2
"""

TEXT_QUERIES["q39_decontamination"] = (q39_decontamination, Q39_SQL)


# ---------------------------------------------------------------------------
# q40: intra-document repetition quality signals (the Gopher/MassiveText
# repetition filters, token flavor): per doc the duplicate-token
# fraction and the fraction of the doc's 2-gram windows taken by its
# single most frequent 2-gram; rolled up per source with a count of
# "repetitious" docs (top-2-gram fraction > 0.1).
#
# Distributed shape: 2-gram explode → per-(doc, gram) count → per-doc
# max — two map-side-combinable hash aggs on keys that carry the doc
# id, so partials collapse before the exchange and no doc's grams ever
# concentrate on one task beyond its own row. Token distincts ride the
# same pattern. No windows, no broadcast, no skew key (doc_id is
# unique): the plan is flat at any corpus size.
# ---------------------------------------------------------------------------

_REP_THRESH = 0.1


def q40_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source repetition profile: docs (with >= 2 tokens),
    mean duplicate-token fraction, mean top-2-gram fraction, and
    repetitious-doc count (top-2-gram fraction > 0.1)."""
    d = _T(spark, sf, "documents").select(
        "doc_id", "source", _toks(F.col("text")).alias("tk")
    ).filter(F.size("tk") >= 2)
    g2 = d.select(
        "doc_id", "source", F.size("tk").alias("ntok"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("tk") - 2),
                lambda i: F.concat_ws(
                    " ", F.slice("tk", i + 1, 2)
                ),
            )
        ).alias("g"),
    )
    per_doc = (
        g2.groupBy("doc_id", "source", "ntok", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "source", "ntok")
        .agg(F.max("c").alias("topc"))
        .withColumn(
            "top2_frac",
            F.col("topc") / (F.col("ntok") - 1).cast("double"),
        )
    )
    dup_tok = d.select(
        "doc_id",
        (
            (F.size("tk") - F.size(F.array_distinct("tk")))
            / F.size("tk").cast("double")
        ).alias("dup_frac"),
    )
    j = per_doc.join(dup_tok, "doc_id")
    # means via per-doc integer micro-quantization + exact long sums so
    # cross-engine float-add order can't move the 6-dp value hash (the
    # repo-wide determinism rule, SURVEY §5.3)
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum(F.round(F.col("dup_frac") * 1e6).cast("long"))
             .alias("_sd"),
            F.sum(F.round(F.col("top2_frac") * 1e6).cast("long"))
             .alias("_st"),
            F.sum(
                (F.col("top2_frac") > _REP_THRESH).cast("long")
            ).alias("repetitious_docs"),
        )
        .select(
            "source", "docs",
            F.round(F.col("_sd") / (F.col("docs") * 1e6), 6)
             .alias("avg_dup_tok_frac"),
            F.round(F.col("_st") / (F.col("docs") * 1e6), 6)
             .alias("avg_top2_frac"),
            "repetitious_docs",
        )
    )


Q40_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS_SQL} AS tk FROM documents
),
d AS (SELECT * FROM toks WHERE len(tk) >= 2),
g2 AS (
  SELECT doc_id, source, len(tk) AS ntok,
         unnest(list_transform(range(0, len(tk) - 1),
                i -> array_to_string(
                       tk[CAST(i + 1 AS INT):CAST(i + 2 AS INT)], ' ')))
           AS g
  FROM d
),
per_doc AS (
  SELECT doc_id, source, ntok, MAX(c) AS topc
  FROM (SELECT doc_id, source, ntok, g, COUNT(*) AS c
        FROM g2 GROUP BY 1, 2, 3, 4)
  GROUP BY 1, 2, 3
),
dup_tok AS (
  SELECT doc_id,
         (len(tk) - len(list_distinct(tk))) / CAST(len(tk) AS DOUBLE)
           AS dup_frac
  FROM d
)
SELECT p.source,
       CAST(COUNT(*) AS BIGINT) AS docs,
       ROUND(SUM(CAST(ROUND(t.dup_frac * 1e6) AS BIGINT))
             / (COUNT(*) * 1e6), 6) AS avg_dup_tok_frac,
       ROUND(SUM(CAST(ROUND(p.topc / CAST(p.ntok - 1 AS DOUBLE) * 1e6)
                      AS BIGINT)) / (COUNT(*) * 1e6), 6)
         AS avg_top2_frac,
       CAST(SUM(CASE WHEN p.topc / CAST(p.ntok - 1 AS DOUBLE)
                     > {_REP_THRESH} THEN 1 ELSE 0 END) AS BIGINT)
         AS repetitious_docs
FROM per_doc p JOIN dup_tok t ON t.doc_id = p.doc_id
GROUP BY 1
"""

TEXT_QUERIES["q40_repetition"] = (q40_repetition, Q40_SQL)


# ---------------------------------------------------------------------------
# q41: corpus-LM quality scoring (the CCNet/KenLM filtering stage,
# unigram flavor): score every document by its mean token log-
# probability under the corpus's own unigram distribution and count
# low-quality (surprising) documents per source. Distributed shape:
# token explode → ONE two-phase hash agg for vocab counts → ONE
# token-key shuffle join back (vocab is unbounded in principle, so no
# broadcast) → per-doc agg → per-source rollup. Determinism: per-token
# log-probs are quantized to integer micro-nats BEFORE any summation,
# so only a libm ln() ulp landing exactly on a half micro-nat could
# move the hash (the slope/atan exposure class, SURVEY §5.3).
# ---------------------------------------------------------------------------

_LOWQ_MICRO = -7_000_000  # score < -7.0 nats/token = "low quality"


def q41_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source LM-quality profile: docs, mean per-doc unigram
    log-prob (nats/token, 6dp), low-quality doc count."""
    d = _T(spark, sf, "documents").select(
        "doc_id", "source", _toks(F.col("text")).alias("tk")
    )
    toks = d.select("doc_id", "source", F.explode("tk").alias("t"))
    vocab = toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    # total tokens as a LAZY broadcast scalar (the oracle's `tot` CTE):
    # no driver-side action at plan-build time, and the duplicated
    # vocab subtree collapses to one computation via ReusedExchange
    total = vocab.agg(F.sum("c").cast("double").alias("total"))
    vq = vocab.crossJoin(F.broadcast(total)).select(
        "t",
        F.round(F.log(F.col("c") / F.col("total")) * 1e6)
        .cast("long").alias("q"),
    )
    per_doc = (
        toks.join(vq, "t")
        .groupBy("doc_id", "source")
        .agg(
            F.round(F.sum("q") / F.count(F.lit(1)))
            .cast("long").alias("sq"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.round(F.sum("sq") / (F.count(F.lit(1)) * 1e6), 6)
             .alias("avg_logprob"),
            F.sum((F.col("sq") < _LOWQ_MICRO).cast("long"))
             .alias("low_quality_docs"),
        )
        .select("source", "docs", "avg_logprob", "low_quality_docs")
    )


Q41_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source, unnest({_TOKS_SQL}) AS t FROM documents
),
vocab AS (SELECT t, COUNT(*) AS c FROM toks GROUP BY t),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM vocab),
vq AS (
  SELECT t, CAST(ROUND(LN(c / (SELECT total FROM tot)) * 1e6) AS BIGINT)
           AS q
  FROM vocab
),
per_doc AS (
  SELECT w.doc_id, w.source,
         CAST(ROUND(SUM(v.q) / COUNT(*)) AS BIGINT) AS sq
  FROM toks w JOIN vq v ON v.t = w.t
  GROUP BY 1, 2
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS docs,
       ROUND(SUM(sq) / (COUNT(*) * 1e6), 6) AS avg_logprob,
       CAST(SUM(CASE WHEN sq < {_LOWQ_MICRO} THEN 1 ELSE 0 END)
            AS BIGINT) AS low_quality_docs
FROM per_doc GROUP BY 1
"""

TEXT_QUERIES["q41_unigram_logprob"] = (q41_unigram_logprob, Q41_SQL)


# ---------------------------------------------------------------------------
# q42: cross-source duplication matrix — the dedup ANALYTICS view on
# top of D1: for every ordered source pair (a < b), how many distinct
# exact-duplicate texts they share and how many cross-source copy
# pairs that represents. Real pipelines read this to find mirror sites
# / syndication before choosing a canonical-source rule. Distributed
# shape: md5 groupBy (two-phase, map-side combine) → hash-key
# self-join of the per-(hash, source) count table against itself —
# per-hash rows are bounded by the SOURCE COUNT (not the copy count),
# so the join fan-out is ≤ |sources|² per hash at any corpus size.
# ---------------------------------------------------------------------------


def q42_source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered source-pair overlap at two granularities — 'exact'
    (whole-text md5) and 'prefix8' (md5 of the first 8 tokens, the
    cheap near-mirror fingerprint); only pairs sharing >= 1 key
    appear."""
    tk = _toks(F.col("text"))
    # both keys emitted from ONE scan (map-side explode of a 2-element
    # struct array — no second pass over the corpus)
    keyed = _T(spark, sf, "documents").select(
        "source",
        F.explode(
            F.array(
                F.struct(
                    F.lit("exact").alias("granularity"),
                    F.md5("text").alias("h"),
                ),
                F.struct(
                    F.lit("prefix8").alias("granularity"),
                    F.md5(F.concat_ws(" ", F.slice(tk, 1, 8))).alias("h"),
                ),
            )
        ).alias("k"),
    ).select("source", "k.granularity", "k.h")
    hs = keyed.groupBy("granularity", "h", "source").agg(
        F.count(F.lit(1)).alias("n")
    )
    a = hs.select(
        "granularity", "h",
        F.col("source").alias("src_a"), F.col("n").alias("na"),
    )
    b = hs.select(
        "granularity", "h",
        F.col("source").alias("src_b"), F.col("n").alias("nb"),
    )
    return (
        a.join(b, ["granularity", "h"])
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("granularity", "src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("shared_texts"),
            F.sum(F.col("na") * F.col("nb")).cast("long")
             .alias("copy_pairs"),
        )
        .select(
            "granularity", "src_a", "src_b", "shared_texts", "copy_pairs",
        )
    )


Q42_SQL = rf"""
WITH keyed AS (
  SELECT 'exact' AS granularity, md5(text) AS h, source FROM documents
  UNION ALL
  SELECT 'prefix8',
         md5(array_to_string(
               ({_TOKS_SQL})[1:8], ' ')),
         source
  FROM documents
),
hs AS (
  SELECT granularity, h, source, COUNT(*) AS n
  FROM keyed GROUP BY 1, 2, 3
)
SELECT a.granularity, a.source AS src_a, b.source AS src_b,
       CAST(COUNT(*) AS BIGINT) AS shared_texts,
       CAST(SUM(a.n * b.n) AS BIGINT) AS copy_pairs
FROM hs a JOIN hs b
  ON b.granularity = a.granularity AND b.h = a.h AND a.source < b.source
GROUP BY 1, 2, 3
"""

TEXT_QUERIES["q42_source_overlap"] = (q42_source_overlap, Q42_SQL)


# ---------------------------------------------------------------------------
# q44: staged funnel analysis (the product-analytics sequence op, D28):
# per user the earliest view, the earliest click strictly after it, the
# earliest purchase strictly after that — stages 2/3 must land within 7
# days of the view. Distributed shape: three chained conditional-min
# projections over ONE user-partitioned window (same partitioning ⇒ one
# shuffle + one sort, reused by all three), then a single rollup. All
# comparisons in exact epoch-µs integers.
# ---------------------------------------------------------------------------

_FUNNEL_WINDOW_US = 7 * 24 * 3600 * 1_000_000


def q44_event_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """One row per funnel stage: users reached + conversion vs stage 1."""
    e = _T(spark, sf, "events").select(
        "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id")
    tv = e.withColumn(
        "tv", F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(w)
    )
    tc = tv.withColumn(
        "tc",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("us") > F.col("tv")),
                F.col("us"),
            )
        ).over(w),
    )
    tp = tc.withColumn(
        "tp",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("us") > F.col("tc")),
                F.col("us"),
            )
        ).over(w),
    )
    per_user = tp.groupBy("user_id").agg(
        F.min("tv").alias("tv"), F.min("tc").alias("tc"),
        F.min("tp").alias("tp"),
    )
    lim = F.col("tv") + _FUNNEL_WINDOW_US
    flags = per_user.select(
        F.col("tv").isNotNull().cast("long").alias("s1"),
        (F.col("tc").isNotNull() & (F.col("tc") <= lim))
        .cast("long").alias("s2"),
        (
            F.col("tp").isNotNull() & (F.col("tp") <= lim)
            & F.col("tc").isNotNull() & (F.col("tc") <= lim)
        ).cast("long").alias("s3"),
    ).agg(
        F.sum("s1").alias("n1"), F.sum("s2").alias("n2"),
        F.sum("s3").alias("n3"),
    )
    stages = [
        ("1_view", F.col("n1")),
        ("2_click_after_view", F.col("n2")),
        ("3_purchase_after_click", F.col("n3")),
    ]
    out = None
    for name, col in stages:
        s = flags.select(
            F.lit(name).alias("stage"),
            col.cast("long").alias("users"),
            F.round(col / F.col("n1").cast("double"), 6).alias("conv_vs_view"),
        )
        out = s if out is None else out.unionByName(s)
    return out


Q44_SQL = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
),
tv AS (SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN us END) AS tv
       FROM e GROUP BY 1),
tc AS (
  SELECT e.user_id, MIN(e.us) AS tc
  FROM e JOIN tv ON tv.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.us > tv.tv
  GROUP BY 1
),
tp AS (
  SELECT e.user_id, MIN(e.us) AS tp
  FROM e JOIN tc ON tc.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.us > tc.tc
  GROUP BY 1
),
f AS (
  SELECT v.user_id, v.tv, c.tc, p.tp
  FROM tv v LEFT JOIN tc c ON c.user_id = v.user_id
  LEFT JOIN tp p ON p.user_id = v.user_id
),
n AS (
  SELECT
    SUM(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END) AS n1,
    SUM(CASE WHEN tc IS NOT NULL AND tc <= tv + {_FUNNEL_WINDOW_US}
             THEN 1 ELSE 0 END) AS n2,
    SUM(CASE WHEN tp IS NOT NULL AND tp <= tv + {_FUNNEL_WINDOW_US}
             AND tc IS NOT NULL AND tc <= tv + {_FUNNEL_WINDOW_US}
             THEN 1 ELSE 0 END) AS n3
  FROM f
)
SELECT '1_view' AS stage, CAST(n1 AS BIGINT) AS users,
       ROUND(n1 / CAST(n1 AS DOUBLE), 6) AS conv_vs_view FROM n
UNION ALL
SELECT '2_click_after_view', CAST(n2 AS BIGINT),
       ROUND(n2 / CAST(n1 AS DOUBLE), 6) FROM n
UNION ALL
SELECT '3_purchase_after_click', CAST(n3 AS BIGINT),
       ROUND(n3 / CAST(n1 AS DOUBLE), 6) FROM n
"""

TEXT_QUERIES["q44_event_funnel"] = (q44_event_funnel, Q44_SQL)


# ---------------------------------------------------------------------------
# T1–T5 Structured Streaming surface behind the driver hash (round 5)
# ---------------------------------------------------------------------------

_EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)
_SESSION_GAP_US = 900_000_000  # 15 minutes, Spark session_window gap


def sq_streaming(spark: SparkSession, sf: str) -> DataFrame:
    """T1–T5 behind the driver hash (round 5; T-family was golden-only
    through round 4). Three availableNow drains of the events parquet
    into memory sinks, unioned to one long schema
    (part, k1 bigint, k2, n, m):

      win   — T1 micro-batch ingest + T2 event-time tumbling windows:
              10-minute counts + floor-cent value sums per event_type,
              complete mode (deterministic full emission — the
              append-mode watermark late-drop semantics stay covered by
              the golden tests, which this row does not replace).
      sess  — T4 session windows (15-minute gap) per user: Spark merges
              events while consecutive gaps are < gap, so per-session
              span = window.end − window.start − gap; emitted per user
              as (n_sessions, total span µs). Complete mode (session
              windows reject update; the drain emits the fully-merged
              final state).
      dedup — T5 stateful cross-batch dedup: the input dir carries TWO
              copies of the events file and maxFilesPerTrigger=1 forces
              one copy per micro-batch; dropDuplicates(event_id) under
              a 31-day watermark (the fixture spans 30 days — nothing
              evicts) must reduce batch 2 to nothing, leaving exactly
              the single-copy per-type aggregate.

    The streaming plans reuse the batch column expressions, so each leg
    is re-derivable from the batch events table — the oracle recomputes
    all three from `events`, making the streaming layer a proven
    semantic no-op over the same files."""
    import os
    import shutil
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(),
        # pid-keyed like sq_lakehouse's scratch: a shared path let one
        # process rmtree the source files mid-stream of another
        f"mw_stream_{os.path.basename(os.path.normpath(sf))}_{os.getpid()}",
    )
    shutil.rmtree(base, ignore_errors=True)
    single, double = os.path.join(base, "single"), os.path.join(base, "double")
    os.makedirs(single)
    os.makedirs(double)
    src = os.path.join(sf, "events.parquet")
    shutil.copy(src, os.path.join(single, "events-0.parquet"))
    shutil.copy(src, os.path.join(double, "events-0.parquet"))
    shutil.copy(src, os.path.join(double, "events-1.parquet"))

    try:
        return _sq_streaming_drained(spark, single, double)
    finally:
        # the drains below are complete and the result reads the
        # in-memory sink tables, so the staging copies are dead weight;
        # pid-keyed dirs would otherwise accumulate one 3x-events leak
        # per process (the fresh-JVM-per-run bench discipline means a
        # new pid every time)
        shutil.rmtree(base, ignore_errors=True)


def _sq_streaming_drained(spark: SparkSession, single: str, double: str) -> DataFrame:
    import uuid

    from engine.streaming import run_to_memory

    cents = F.floor(F.col("value") * 100).cast("long")
    tag = uuid.uuid4().hex[:8]  # memory-sink names are session-global

    # -- win: complete-mode tumbling window aggregation
    win_name = f"sq_stream_win_{tag}"
    s_win = spark.readStream.schema(_EVENTS_DDL).parquet(single)
    run_to_memory(
        s_win.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("m")),
        win_name,
        output_mode="complete",
    )
    win = spark.table(win_name).select(
        F.lit("win").alias("part"),
        F.unix_timestamp("win.start").alias("k1"),
        F.col("event_type").alias("k2"),
        F.col("n").cast("long").alias("n"),
        F.col("m").cast("long").alias("m"),
    )

    # -- sess: session windows, complete mode (session_window rejects
    #    update; single micro-batch => the complete output IS final)
    sess_name = f"sq_stream_sess_{tag}"
    s_sess = spark.readStream.schema(_EVENTS_DDL).parquet(single)
    run_to_memory(
        s_sess.withWatermark("ts", "31 days")
        .groupBy(F.session_window("ts", "15 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_ev")),
        sess_name,
        output_mode="complete",
    )
    sess = (
        spark.table(sess_name)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.unix_micros("sw.end")
                - F.unix_micros("sw.start")
                - F.lit(_SESSION_GAP_US)
            ).cast("long").alias("m"),
        )
        .select(
            F.lit("sess").alias("part"),
            F.col("user_id").alias("k1"),
            F.lit("").alias("k2"),
            "n",
            "m",
        )
    )

    # -- dedup: append mode across two forced micro-batches
    dd_name = f"sq_stream_dedup_{tag}"
    s_dd = (
        spark.readStream.schema(_EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(double)
    )
    run_to_memory(
        s_dd.withWatermark("ts", "31 days").dropDuplicates(["event_id"]),
        dd_name,
    )
    dedup = (
        spark.table(dd_name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), F.sum(cents).alias("m"))
        .select(
            F.lit("dedup").alias("part"),
            F.lit(0).cast("long").alias("k1"),
            F.col("event_type").alias("k2"),
            "n",
            "m",
        )
    )

    return win.unionByName(sess).unionByName(dedup)


# Window start mirrored in integer µs arithmetic (epoch_us // 600e6 —
# Spark's F.window aligns tumbling windows at epoch 0 UTC); sessions
# mirrored by the gap rule: Spark merges an event into the current
# session iff it starts BEFORE last_ts + gap, so a new session begins
# exactly when diff >= gap; per-session span = max(ts) − min(ts).
SQ_STREAMING_SQL = f"""
WITH cents AS (
  SELECT event_id, ts, user_id, event_type,
         CAST(FLOOR(value * 100) AS BIGINT) AS c
  FROM events
),
brk AS (
  SELECT user_id, ts,
         CASE WHEN prev IS NULL
                   OR epoch_us(ts) - epoch_us(prev) >= {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM (SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events)
),
sid AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS s
  FROM brk
),
per_sess AS (
  SELECT user_id, s, epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur
  FROM sid GROUP BY 1, 2
)
SELECT 'win' AS part,
       (epoch_us(ts) // 600000000) * 600 AS k1,
       event_type AS k2,
       COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS m
FROM cents GROUP BY 2, 3
UNION ALL
SELECT 'sess', user_id, '', COUNT(*), CAST(SUM(dur) AS BIGINT)
FROM per_sess GROUP BY 2
UNION ALL
SELECT 'dedup', 0, event_type, COUNT(*), CAST(SUM(c) AS BIGINT)
FROM cents GROUP BY 3
"""

TEXT_QUERIES["sq_streaming"] = (sq_streaming, SQ_STREAMING_SQL)
