"""Product-quantization (PQ) ANN: the trained-codebook upgrade over
the SQ8 scalar quantizer — the memory layout real vector stores
(FAISS IVFPQ, ScaNN) scan at 100 TB.

The 64-dim embedding splits into M=4 16-dim subspaces; each subspace
has a k=16 codebook trained offline (tools/build_pq_codebooks.py,
MLlib k-means seed=42) and FROZEN here as quantized-integer literals —
the same freeze-the-fit pattern as the IVF coarse quantizer
(similarity.py _IVF_CENTROIDS_Q), so encode and search are fully
deterministic and the DuckDB oracle replays them from the SAME 1024
integers (the shared literal is the cross-engine proof).

Search is the textbook asymmetric-distance (ADC) two-stage:

  encode   every vector -> 4 one-byte codes:
           code_m = argmax_k (2*x_m.c_mk - |c_mk|^2)   (= argmin L2)
  LUT      per probe, 4x16 integer dot products against the codebooks
  ADC scan the CODES table (4 ints/vector -- a 64x bandwidth cut vs
           the fp64 row, 16x vs the int8 SQ copy) joined to the
           broadcast LUT on (m, code): approx dot = sum of 4 lookups
  re-rank  exact cosine for only the top-R ADC survivors

Everything until the final cosine divide is 64-bit integer arithmetic
on identical operands in both engines. The ADC scan enumerates
(probes x corpus) groups -- the irreducible cost of exhaustive coarse
scoring; IVF cell routing (ann_ivf_topk) composes with PQ to cut that
too, exactly as IVFPQ does.

Reference parity: the reference has no vector surface; this extends
SURVEY §2.8's beyond-reference mandate alongside similarity.py /
similarity2.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from goconnect_spark.queries.similarity import (
    _N_PROBES,
    _QUANT_CTE,
    _TOP_K,
    _norms_cached,
    _quant_cached,
)

QUERIES = {}
ORACLE = {}

_M = 4    # subspaces
_SUB = 16  # dims per subspace
_K = 16   # codes per subspace
_PQ_R = 25  # ADC overfetch: re-rank 5x the final k

_PQ_CODEBOOKS_Q = [
    [  # subspace 0: dims 0..15
        [-896, -1127, 1154, -281, 449, -35, -1001, 892, -523, 800, -180, 430, 181, -1085, 434, -537],
        [-392, 450, -754, -845, -807, 514, -606, 252, -276, -945, 974, -596, 360, -394, -558, 116],
        [1068, -1047, -347, 147, 1027, -940, -933, 640, -268, -347, 653, -223, -135, -112, 554, 611],
        [1197, 289, 913, -702, 805, 543, -114, 1085, 305, -434, 1321, -1306, 503, -319, 138, 1748],
        [-60, 1190, -365, -1401, 33, 986, 303, 140, 496, -422, -1086, 343, 251, 71, 213, 189],
        [-642, -391, -661, 63, 451, 337, 647, 132, 676, 1275, 450, 294, -899, 308, 577, -398],
        [426, -390, 440, 341, -151, 908, -1462, -1, 348, 604, -949, 632, 557, -185, -556, 909],
        [-250, -165, -289, 949, 748, 1743, -746, -347, -494, -378, 1095, 120, 218, -208, 826, -976],
        [229, -493, -533, -127, -586, -620, 729, -394, -1104, -1397, -547, 88, -782, 1022, 156, -573],
        [581, 122, 161, 457, -454, -434, 474, -1102, 301, -922, 248, 1140, 1077, 1268, 439, 383],
        [-262, 436, -231, 914, -694, -184, 663, 1149, -549, 444, -806, 1071, -60, 240, -1113, 406],
        [70, 976, 948, 736, 319, -826, -603, -796, 393, -362, -453, -374, -326, -706, 751, 157],
        [-354, 311, 477, -426, 1420, 35, -205, -613, -571, 338, 671, 419, 351, 1386, -808, 821],
        [1083, 274, -531, 632, -503, 465, -447, 1035, -762, -613, 142, -477, -1191, -664, -58, -1164],
        [1295, -240, 390, -785, -678, -799, -78, 103, 1781, -38, 23, -1130, -213, 392, -150, -437],
        [-1110, -455, 716, -560, -43, -1069, 787, -650, -296, 512, 61, -1246, 8, -546, -816, -284],
    ],
    [  # subspace 1: dims 16..31
        [1256, -547, -672, -199, -1049, -73, -363, -325, -563, 186, 13, -298, 890, -507, 409, -699],
        [288, 445, -116, 643, 873, 548, 678, -1579, 1546, -120, 927, -437, -390, 761, 123, -672],
        [82, -165, -94, 211, -258, -1034, 507, -732, 398, 234, -931, 1167, -290, 203, -832, -359],
        [-147, 89, 845, -398, -1023, 951, -106, 777, 407, 923, 968, -26, 646, 750, 18, 1254],
        [719, 838, 5, -552, -358, 314, 233, 1160, 154, -1625, 611, 530, 412, -867, 645, -147],
        [206, 1076, 133, -1547, 178, 411, 1026, -1996, -445, -355, -89, -11, -161, 65, -507, 328],
        [639, -545, 225, -475, 1242, 672, 923, 323, -149, -266, -1273, -690, -460, -544, 10, 476],
        [67, -366, 1446, 165, 711, 38, -1174, 133, 380, -443, -387, -336, -147, 32, -2, -835],
        [509, 133, 148, 783, 137, 31, 1, 44, -963, 533, 936, 1505, -1297, 790, -87, -18],
        [-854, 1377, -301, -419, -191, 1025, -55, 197, -116, 1182, -980, 63, -1060, 164, -928, 55],
        [-412, -875, -304, -59, 290, 338, 462, -362, -160, 1915, 550, -400, -105, -1264, 496, 189],
        [-663, 1142, 46, 831, -288, -287, 91, -600, -934, -732, 169, -853, 338, -105, -41, -445],
        [-550, -878, -272, 497, 467, -735, -909, 344, 267, 704, 331, 643, 728, 336, -576, 767],
        [359, 1177, -94, -695, -325, -845, 273, 566, 18, -74, -1153, 428, -658, 57, 1939, 16],
        [-956, -1205, -1173, 549, -79, 1, 345, 797, 1163, -149, -676, 409, -213, 732, 686, -472],
        [774, 358, -2993, 847, -1873, -1058, 1398, -42, 1230, 1125, -475, 1764, 2393, 714, 1048, -2047],
    ],
    [  # subspace 2: dims 32..47
        [640, -168, -278, 694, 785, -67, -735, 402, -955, 226, -596, -136, -544, -938, 688, -410],
        [263, 321, -133, 1399, 539, -722, 404, -469, -253, -355, -509, -559, 870, 707, 445, 724],
        [-609, 30, 177, -1384, 315, -232, -898, -270, 358, 490, -832, -91, 664, -23, -379, 1165],
        [-772, -85, -268, 255, -424, -472, -251, -989, 212, 810, 1079, 458, -850, 553, 403, -1076],
        [881, 385, 27, 755, 389, -756, -1426, -362, 953, -309, 317, 844, -68, -42, -1383, -166],
        [745, -748, -512, -219, 734, 317, 546, 174, 113, 211, -604, 1083, -571, 570, 427, -665],
        [276, -1628, 743, -694, 115, -174, -418, 179, 1045, 590, 1483, -563, 492, -226, 1206, -684],
        [-356, 325, -345, -685, -741, 1042, -907, -423, -445, -1076, 80, 285, -677, 669, -856, -257],
        [211, 1342, 846, -611, -138, 284, 1386, 329, -343, -434, 773, 582, 485, 263, -133, -42],
        [-1380, -1631, -889, 201, -1364, 1204, -765, -590, 610, -535, -72, 2453, -280, 618, 580, 1228],
        [216, 805, 829, 125, 4, 40, 231, -549, 470, -1970, -200, -1068, -336, -335, 630, -352],
        [-938, -400, 779, 540, 98, 317, 443, 1379, 28, 466, -263, -983, 104, -1010, -806, 158],
        [-319, 695, -281, 862, -1513, 771, -60, 899, -1534, -471, 375, 516, -212, 337, 200, 69],
        [219, -1059, 132, -398, -585, -792, 428, 811, 283, -622, 426, -203, -642, 385, -46, 878],
        [429, -83, 76, 453, -1096, -435, 1283, -1074, -714, 415, 141, -654, -171, -1328, -331, 578],
        [914, -217, -946, -1174, -123, 1014, 1004, -591, 443, 753, -717, -1021, -209, 1322, -170, 500],
    ],
    [  # subspace 3: dims 48..63
        [520, -1555, 1109, -114, -824, 325, 18, 266, 60, 580, 119, 309, -304, -693, 257, 176],
        [-897, -439, 527, 1527, -228, -68, 1534, -319, -680, 214, -259, -1001, 659, -304, 136, 159],
        [-200, -27, 398, 443, 1270, -716, 983, 4, -252, -864, 1247, 617, -761, -111, -123, -492],
        [891, 383, 625, -1070, 406, 154, 140, -320, 638, -391, -612, -582, -308, -1515, 284, -1665],
        [-598, -870, 1045, -868, 1105, 181, -751, 441, -74, 362, 110, -584, -659, 1491, -270, -907],
        [230, 364, 261, 13, 432, -1351, -1080, 250, 475, -18, -178, -179, 348, -163, 876, 1170],
        [-670, -72, -788, -939, -17, 365, 546, -255, -570, -562, -739, -205, 273, 1330, 24, 125],
        [216, -176, -907, -1143, 337, 179, 1002, -42, -1448, 343, 615, -673, -338, -1041, 548, 793],
        [272, 844, -159, 520, -11, -376, 482, 1061, 273, -443, -849, -1079, 653, 575, -28, -698],
        [-1020, 239, -280, 761, -242, 602, -119, 578, -304, 109, -1144, 845, -494, -695, 755, -379],
        [-1191, -429, -556, 500, 323, 847, 185, -156, 1507, -429, 492, -194, 164, 191, -175, -80],
        [166, 290, 42, -527, -518, -501, -251, -1322, 121, 1006, 192, -277, -1103, 449, -824, -514],
        [360, -1162, -578, -102, -344, -590, -1041, 232, -133, -851, 1037, -477, 339, 549, -254, -584],
        [718, 962, 785, -89, 636, -150, 276, 293, 886, 777, 634, 850, 1201, -178, -779, -105],
        [1555, -807, 51, 321, 142, 439, -78, -40, -985, 666, -1390, 469, 298, -254, -347, 1571],
        [-319, 438, 643, 551, -199, 248, -1601, -1810, 1027, -976, -170, 596, 242, 551, -170, 37],
    ],
]


def _cb_rows():
    """(m, k, d, cq) relational form of the codebooks — d is the
    GLOBAL dim index, so one equi-join on d aligns any exploded
    vector with every subspace codebook at once."""
    return [
        (m, k, m * _SUB + j, int(cq))
        for m, book in enumerate(_PQ_CODEBOOKS_Q)
        for k, cent in enumerate(book)
        for j, cq in enumerate(cent)
    ]


_CB_DF: dict[str, DataFrame] = {}


def _cb(spark: SparkSession) -> DataFrame:
    # constant-literal codebook table, memoized per application:
    # createDataFrame ships the 1024 rows through py4j on every call
    # (~45 ms warm), and _pq_lut rebuilds it once per ANN query. Keyed
    # on applicationId, not id(spark), and entries of any other
    # (stopped) application are dropped, as in corpus.cached_table.
    app_id = spark.sparkContext.applicationId
    for stale in [k for k in _CB_DF if k != app_id]:
        del _CB_DF[stale]
    df = _CB_DF.get(app_id)
    if df is None:
        df = spark.createDataFrame(_cb_rows(), "m int, k int, d int, cq long")
        _CB_DF[app_id] = df
    return df


def _pq_codes_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, code): the encoded corpus — 4 small ints per
    vector, the resident scan copy. Session-cached like the quant
    explode it derives from."""
    from goconnect_spark.queries.corpus import cached_table

    def build():
        quant = _quant_cached(spark, sf_dir)
        cb = _cb(spark)
        enc = (
            quant.join(F.broadcast(cb), "d")
            .groupBy("vec_id", "m", "k")
            .agg(F.sum(F.col("q") * F.col("cq")).alias("dot"))
        )
        nsq = cb.groupBy("m", "k").agg(F.sum(F.col("cq") * F.col("cq")).alias("nsq"))
        return (
            enc.join(F.broadcast(nsq), ["m", "k"])
            .groupBy("vec_id", "m")
            .agg(
                F.max(
                    F.struct(
                        (2 * F.col("dot") - F.col("nsq")).alias("s"),
                        (-F.col("k")).alias("nk"),
                    )
                ).alias("b")
            )
            .select("vec_id", "m", (-F.col("b.nk")).alias("code"))
        )

    return cached_table(spark, sf_dir, "pq_codes", build)


def ann_pq_adc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = _pq_codes_cached(spark, sf_dir)
    lut = _pq_lut(spark, sf_dir)
    adc = (
        codes.withColumnRenamed("code", "k")
        .join(F.broadcast(lut), ["m", "k"])
        .where(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", "vec_id")
        .agg(F.sum("lutdot").alias("adc"))
    )
    wc = Window.partitionBy("probe_id").orderBy(F.desc("adc"), F.asc("vec_id"))
    cand = (
        adc.withColumn("crk", F.row_number().over(wc))
        .where(F.col("crk") <= _PQ_R)
        .select("probe_id", "vec_id")
    )
    return _exact_rerank(cand, spark, sf_dir)


def _cb_values_sql() -> str:
    return ", ".join(f"({m}, {k}, {d}, {cq})" for (m, k, d, cq) in _cb_rows())


def _pq_sql() -> str:
    return f"""
WITH {_QUANT_CTE},
cb(m, k, d, cq) AS (VALUES {_cb_values_sql()}),
nsq AS (SELECT m, k, CAST(SUM(cq * cq) AS BIGINT) AS nsq FROM cb GROUP BY 1, 2),
enc AS (
  SELECT q.vec_id, cb.m, cb.k, CAST(SUM(q.q * cb.cq) AS BIGINT) AS dot
  FROM quant q JOIN cb ON cb.d = q.d GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT e.vec_id, e.m, e.k,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.m
                              ORDER BY (2 * e.dot - n.nsq) DESC, e.k ASC) AS rk
    FROM enc e JOIN nsq n ON n.m = e.m AND n.k = e.k
  ) WHERE rk = 1
),
lut AS (
  SELECT q.vec_id AS probe_id, cb.m, cb.k, CAST(SUM(q.q * cb.cq) AS BIGINT) AS lutdot
  FROM quant q JOIN cb ON cb.d = q.d
  WHERE q.vec_id < {_N_PROBES} GROUP BY 1, 2, 3
),
adc AS (
  SELECT l.probe_id, c.vec_id, CAST(SUM(l.lutdot) AS BIGINT) AS adc
  FROM codes c JOIN lut l ON l.m = c.m AND l.k = c.code
  WHERE c.vec_id <> l.probe_id GROUP BY 1, 2
),
cand AS (
  SELECT probe_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                 ORDER BY adc DESC, vec_id ASC) AS crk
    FROM adc
  ) WHERE crk <= {_PQ_R}
),
dots AS (
  SELECT c.probe_id, c.vec_id, CAST(SUM(qv.q * qp.q) AS BIGINT) AS dot
  FROM cand c
  JOIN quant qv ON qv.vec_id = c.vec_id
  JOIN quant qp ON qp.vec_id = c.probe_id AND qp.d = qv.d
  GROUP BY 1, 2
),
cos AS (
  SELECT d.probe_id, d.vec_id,
         CAST(d.dot AS DOUBLE) / (nv.nrm * np.nrm) AS cosine
  FROM dots d
  JOIN norms nv ON nv.vec_id = d.vec_id
  JOIN norms np ON np.vec_id = d.probe_id
)
SELECT probe_id, CAST(rk AS BIGINT) AS rk, vec_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                               ORDER BY cosine DESC, vec_id ASC) AS rk
  FROM cos
) WHERE rk <= {_TOP_K}
ORDER BY probe_id, rk
"""


QUERIES["ann_pq_adc_rerank"] = ann_pq_adc_rerank
ORACLE["ann_pq_adc_rerank"] = _pq_sql()


# Retired in round 7 (VERDICT r6 item 8, catalog-density discipline):
# the standalone `ann_pq_recall` diagnostic duplicated the per-probe
# PQ recall that ann_index_comparison reports as its recall_pq column
# (same truth set, same ADC rerank, same division) — the dashboard is
# the single certified home for index-fidelity numbers.


def _pq_lut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(probe_id, m, k, lutdot): each probe's 4x16 integer dot table
    against the codebooks — the per-query precompute ADC scanning
    amortizes over the whole corpus. Probe-bounded (|probes| x 64
    rows), session-cached (r14): three catalog consumers (ADC rerank,
    IVFPQ, the comparison dashboard) each rebuilt the identical
    two-exchange aggregation (~0.9 s of pure stage overhead at
    sf0.1)."""
    from goconnect_spark.queries.corpus import cached_table

    def build():
        quant = _quant_cached(spark, sf_dir)
        return (
            quant.where(F.col("vec_id") < _N_PROBES)
            .select(F.col("vec_id").alias("probe_id"), "d", "q")
            .join(F.broadcast(_cb(spark)), "d")
            .groupBy("probe_id", "m", "k")
            .agg(F.sum(F.col("q") * F.col("cq")).alias("lutdot"))
        )

    return cached_table(spark, sf_dir, "pq_lut", build)


def _exact_rerank(cand: DataFrame, spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared tail: exact cosine over (probe_id, vec_id) candidate
    pairs, per-probe top-k with the (cosine DESC, vec_id ASC) rule."""
    quant = _quant_cached(spark, sf_dir)
    norms = _norms_cached(spark, sf_dir)
    qp = quant.where(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("qp_probe"), F.col("d").alias("pd"), F.col("q").alias("pq")
    )
    # the candidate set is PROBE-bounded by construction (<= |probes|
    # x top-R regardless of corpus size), so it is the broadcast side
    # against the corpus-sized quant/norm tables — hinted explicitly
    # because candidates arrive post-window/post-cache where the
    # static optimizer has no size estimate
    dots = (
        cand.hint("broadcast")
        .join(quant.select("vec_id", "d", "q"), "vec_id")
        .join(
            F.broadcast(qp),
            (F.col("probe_id") == F.col("qp_probe")) & (F.col("d") == F.col("pd")),
        )
        .groupBy("probe_id", "vec_id")
        .agg(F.sum(F.col("q") * F.col("pq")).alias("dot"))
    )
    cos = (
        dots.hint("broadcast").join(norms, "vec_id")
        .join(
            norms.select(
                F.col("vec_id").alias("probe_id"), F.col("nrm").alias("pnrm")
            ),
            "probe_id",
        )
        .select(
            "probe_id",
            "vec_id",
            (F.col("dot").cast("double") / (F.col("nrm") * F.col("pnrm"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cos.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _TOP_K)
        .select("probe_id", F.col("rk").cast("bigint").alias("rk"), "vec_id", "cosine")
        .orderBy("probe_id", "rk")
    )


_NPROBE = 2  # catalog default: probe the top-2 cells per query vector


def _probe_qarr_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-persisted quantized array of the PROBE subset — the
    three nprobe variants `ann_index_comparison` runs (and every
    other `_probe_topcells` caller) share one scan + quantization
    pass instead of re-reading the raw embeddings per call (ADVICE
    r7). Probe-sized: |probes| rows."""
    from goconnect_spark.queries.corpus import cached_table
    from goconnect_spark.queries.similarity import _kmeans_qarr
    from goconnect_spark.tables import load

    return cached_table(
        spark, sf_dir, "probe_qarr",
        lambda: _kmeans_qarr(
            load(spark, "embeddings", sf_dir).where(F.col("vec_id") < _N_PROBES)
        ),
    )


def _probe_topcells(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """(probe_id, cell): each probe's top-`nprobe` IVF cells by the
    SAME centroid score the best-cell assignment uses
    (similarity._kmeans_scores_expr — shared expression, so routing
    can never rank cells differently than assignment). In-row: sort
    the 8 (−score, cell) structs, slice the first p, explode —
    nprobe×|probes| rows, no window, no shuffle."""
    from goconnect_spark.queries.similarity import (
        _IVF_CENTROIDS_Q,
        _kmeans_scores_expr,
    )

    top = (
        f"slice(array_sort(zip_with({_kmeans_scores_expr()},"
        f" sequence(0, {len(_IVF_CENTROIDS_Q) - 1}),"
        " (s, c) -> struct(-s as negs, c as cell))), 1, %d)" % nprobe
    )
    return _probe_qarr_cached(spark, sf_dir).select(
        F.col("vec_id").alias("probe_id"),
        F.explode(F.expr(f"transform({top}, p -> p.cell)")).alias("cell"),
    )


def _ivfpq_adc_ranked(
    spark: SparkSession, sf_dir: str, pmax: int
) -> DataFrame:
    """(probe_id, vec_id, cellrk, adc): ADC scores of the nprobe=pmax
    candidate SUPERSET, carrying the rank of each candidate's cell in
    the probe's routing list. A candidate's ADC score depends only on
    the vec's codes and the probe's LUT — it is nprobe-INDEPENDENT —
    and the top-p cell list is a prefix of the top-pmax list, so the
    nprobe=p candidate set is exactly the `cellrk <= p` slice. One
    codes-join + aggregation therefore serves every variant the
    comparison dashboard reports (r14, guide §7.2 "duplicated
    subtrees": the dashboard ran this aggregation three times over
    1+2+4 cells' worth of candidates; now once over 4)."""
    from goconnect_spark.queries.similarity import (
        _IVF_CENTROIDS_Q,
        _kmeans_member,
        _kmeans_scores_expr,
    )
    from goconnect_spark.tables import load

    member = _kmeans_member(load(spark, "embeddings", sf_dir)).select(
        "vec_id", "cell"
    )
    top = (
        f"slice(array_sort(zip_with({_kmeans_scores_expr()},"
        f" sequence(0, {len(_IVF_CENTROIDS_Q) - 1}),"
        " (s, c) -> struct(-s as negs, c as cell))), 1, %d)" % pmax
    )
    probes = _probe_qarr_cached(spark, sf_dir).select(
        F.col("vec_id").alias("probe_id"),
        F.posexplode(F.expr(f"transform({top}, p -> p.cell)")).alias(
            "pos", "cell"
        ),
    ).select("probe_id", (F.col("pos") + 1).alias("cellrk"), "cell")
    # each vec has exactly ONE cell and the probe's routing list has
    # distinct cells, so (probe_id, vec_id) occurs once in cand_cell
    # and min(cellrk) below is just "its rank"
    cand_cell = (
        member.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", "cellrk")
    )
    codes = _pq_codes_cached(spark, sf_dir)
    lut = _pq_lut(spark, sf_dir)
    return (
        cand_cell.join(codes.withColumnRenamed("code", "k"), "vec_id")
        .join(F.broadcast(lut), ["probe_id", "m", "k"])
        .groupBy("probe_id", "vec_id")
        .agg(F.sum("lutdot").alias("adc"), F.min("cellrk").alias("cellrk"))
    )


def ann_ivfpq_topk(
    spark: SparkSession, sf_dir: str, nprobe: int = _NPROBE
) -> DataFrame:
    """The full IVFPQ composition — coarse cell ROUTING (k-means IVF:
    a probe touches its top-`nprobe` cells, ~nprobe/k of the corpus)
    x compressed SCORING (ADC over the 4-int codes of just those
    cells) x exact re-rank of the top-R. This is the standard
    billion-scale serving shape: routing cuts the row count, PQ cuts
    the bytes per row, and the re-rank restores full precision where
    it matters. `nprobe` is the recall-vs-cost knob every production
    IVF index exposes (VERDICT r6 item 4); the dashboard
    (`ann_index_comparison`) reports the curve at nprobe ∈ {1,2,4}."""
    from goconnect_spark.queries.similarity import _kmeans_member
    from goconnect_spark.tables import load

    member = _kmeans_member(load(spark, "embeddings", sf_dir)).select(
        "vec_id", "cell"
    )
    probes = _probe_topcells(spark, sf_dir, nprobe)
    cand_cell = (
        member.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id")
    )
    codes = _pq_codes_cached(spark, sf_dir)
    lut = _pq_lut(spark, sf_dir)
    # r14 note: broadcasting the probe-bounded cand_cell into the
    # corpus-resident codes table (to keep the corpus unshuffled) was
    # measured SLOWER (2.59 vs 2.41 s min-of-3 same box) — the
    # shuffle ships only the routed candidates while the broadcast
    # form scans the full codes cache per probe batch. Kept as-is.
    adc = (
        cand_cell.join(codes.withColumnRenamed("code", "k"), "vec_id")
        .join(F.broadcast(lut), ["probe_id", "m", "k"])
        .groupBy("probe_id", "vec_id")
        .agg(F.sum("lutdot").alias("adc"))
    )
    wc = Window.partitionBy("probe_id").orderBy(F.desc("adc"), F.asc("vec_id"))
    cand = (
        adc.withColumn("crk", F.row_number().over(wc))
        .where(F.col("crk") <= _PQ_R)
        .select("probe_id", "vec_id")
    )
    return _exact_rerank(cand, spark, sf_dir)


def _ivfpq_sql(nprobe: int = _NPROBE) -> str:
    from goconnect_spark.queries.similarity import _ASSIGN_CTES

    return f"""
WITH {_QUANT_CTE},
{_ASSIGN_CTES},
cb(m, k, d, cq) AS (VALUES {_cb_values_sql()}),
nsq AS (SELECT m, k, CAST(SUM(cq * cq) AS BIGINT) AS nsq FROM cb GROUP BY 1, 2),
enc AS (
  SELECT q.vec_id, cb.m, cb.k, CAST(SUM(q.q * cb.cq) AS BIGINT) AS dot
  FROM quant q JOIN cb ON cb.d = q.d GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT e.vec_id, e.m, e.k,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.m
                              ORDER BY (2 * e.dot - n.nsq) DESC, e.k ASC) AS rk
    FROM enc e JOIN nsq n ON n.m = e.m AND n.k = e.k
  ) WHERE rk = 1
),
lut AS (
  SELECT q.vec_id AS probe_id, cb.m, cb.k, CAST(SUM(q.q * cb.cq) AS BIGINT) AS lutdot
  FROM quant q JOIN cb ON cb.d = q.d
  WHERE q.vec_id < {_N_PROBES} GROUP BY 1, 2, 3
),
probe_cells AS (
  SELECT vec_id AS probe_id, cell FROM (
    SELECT a.vec_id, a.cell,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
                              ORDER BY (CAST(a.dot AS DOUBLE) / n.cnrm) DESC, a.cell ASC) AS rk
    FROM adots a JOIN cnorm n ON n.cell = a.cell
    WHERE a.vec_id < {_N_PROBES}
  ) WHERE rk <= {nprobe}
),
cand_cell AS (
  SELECT p.probe_id, a.vec_id
  FROM probe_cells p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.probe_id
),
adc AS (
  SELECT c.probe_id, c.vec_id, CAST(SUM(l.lutdot) AS BIGINT) AS adc
  FROM cand_cell c
  JOIN codes k ON k.vec_id = c.vec_id
  JOIN lut l ON l.probe_id = c.probe_id AND l.m = k.m AND l.k = k.code
  GROUP BY 1, 2
),
cand AS (
  SELECT probe_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                 ORDER BY adc DESC, vec_id ASC) AS crk
    FROM adc
  ) WHERE crk <= {_PQ_R}
),
dots AS (
  SELECT c.probe_id, c.vec_id, CAST(SUM(qv.q * qp.q) AS BIGINT) AS dot
  FROM cand c
  JOIN quant qv ON qv.vec_id = c.vec_id
  JOIN quant qp ON qp.vec_id = c.probe_id AND qp.d = qv.d
  GROUP BY 1, 2
),
cos AS (
  SELECT d.probe_id, d.vec_id,
         CAST(d.dot AS DOUBLE) / (nv.nrm * np.nrm) AS cosine
  FROM dots d
  JOIN norms nv ON nv.vec_id = d.vec_id
  JOIN norms np ON np.vec_id = d.probe_id
)
SELECT probe_id, CAST(rk AS BIGINT) AS rk, vec_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                               ORDER BY cosine DESC, vec_id ASC) AS rk
  FROM cos
) WHERE rk <= {_TOP_K}
ORDER BY probe_id, rk
"""


QUERIES["ann_ivfpq_topk"] = ann_ivfpq_topk
ORACLE["ann_ivfpq_topk"] = _ivfpq_sql()


def ann_index_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-selection dashboard: per probe, top-5 recall of the
    production candidates side by side — exhaustive int8 scan (SQ8),
    exhaustive 4-int ADC scan (PQ), and cell-routed ADC (IVFPQ) at
    nprobe ∈ {1, 2, 4} — against the brute-force truth. This one
    table is what the build-vs-buy decision for a 100 TB vector index
    reads: how much fidelity each compression/routing level costs on
    YOUR vectors (synthetic near-random embeddings here are the worst
    case), and how fast the IVFPQ recall climbs as routing fans out
    (a single nprobe=1 point under-sells the composed index — the
    serving decision needs the recall-vs-cost CURVE, VERDICT r6
    item 4). All sides reuse the session-cached quant/code tables;
    the comparison itself is probe-sized."""
    from goconnect_spark.queries.similarity import cosine_topk
    from goconnect_spark.queries.similarity2 import ann_sq8_rerank

    # every assembly join below is PROBE-bounded (groupBy probe_id of
    # top-k candidate sets) — explicit broadcast hints, because the
    # sides are post-aggregate / derived from session-cached tables
    # whose sizes the static optimizer cannot estimate (AQE would fix
    # them at runtime, but the declared plan should already be right)
    # materialize the probe-sized truth set ONCE (r14, guide §3.3
    # "materialising an intermediate truncates the plan"): `truth`
    # appears in all five recall joins plus nt, and without the
    # checkpoint the assembled plan re-executed the whole brute-force
    # cosine_topk pipeline at every appearance (6x) — measured 4.9 ->
    # 4.2 s same-session. 50 rows (|probes| x k), so the
    # materialization itself is free at any corpus scale. Per-side
    # materialization + a §2.6 thread pool was ALSO measured (3.5 ->
    # 5.9 s, rejected): splitting the plan breaks the ReusedExchange
    # sharing between the five candidate pipelines, which outweighs
    # the overlap.
    truth = (
        cosine_topk(spark, sf_dir).select("probe_id", "vec_id").localCheckpoint()
    )
    nt = truth.groupBy("probe_id").agg(F.count(F.lit(1)).alias("n_truth"))

    def recall_of(df: DataFrame, name: str) -> DataFrame:
        hits = (
            truth.hint("broadcast")
            .join(df.select("probe_id", "vec_id"), ["probe_id", "vec_id"])
            .groupBy("probe_id")
            .agg(F.count(F.lit(1)).alias("h"))
        )
        return nt.join(F.broadcast(hits), "probe_id", "left").select(
            "probe_id",
            (
                F.coalesce("h", F.lit(0)) / F.col("n_truth").cast("double")
            ).alias(name),
        )

    out = (
        recall_of(ann_sq8_rerank(spark, sf_dir), "recall_sq8")
        .join(
            F.broadcast(recall_of(ann_pq_adc_rerank(spark, sf_dir), "recall_pq")),
            "probe_id",
        )
    )
    # r14 (guide §7.2): the three nprobe variants share ONE ADC
    # aggregation over the nprobe=4 candidate superset (a candidate's
    # ADC score is nprobe-independent; the nprobe=p set is the
    # cellrk <= p slice) instead of re-running the codes-join + sum
    # per variant. Bit-identical per variant: same pairs, same adc
    # values, same (adc DESC, vec_id ASC) top-R window, same exact
    # re-rank — gated by the unchanged oracle.
    adc4 = _ivfpq_adc_ranked(spark, sf_dir, 4)
    wc = Window.partitionBy("probe_id").orderBy(F.desc("adc"), F.asc("vec_id"))
    for p in (1, 2, 4):
        cand = (
            adc4.where(F.col("cellrk") <= p)
            .withColumn("crk", F.row_number().over(wc))
            .where(F.col("crk") <= _PQ_R)
            .select("probe_id", "vec_id")
        )
        out = out.join(
            F.broadcast(
                recall_of(
                    _exact_rerank(cand, spark, sf_dir), f"recall_ivfpq_np{p}"
                )
            ),
            "probe_id",
        )
    return out.orderBy("probe_id")


def _comparison_sql() -> str:
    from goconnect_spark.queries.similarity import _COSINE_TOPK_SQL
    from goconnect_spark.queries.similarity2 import _SQ8_SQL

    return f"""
WITH truth AS (SELECT probe_id, vec_id FROM ({_COSINE_TOPK_SQL}) t),
nt AS (SELECT probe_id, COUNT(*) AS n_truth FROM truth GROUP BY probe_id),
a_sq8 AS (SELECT probe_id, vec_id FROM ({_SQ8_SQL}) s),
a_pq AS (SELECT probe_id, vec_id FROM ({_pq_sql()}) p),
a_np1 AS (SELECT probe_id, vec_id FROM ({_ivfpq_sql(1)}) q1),
a_np2 AS (SELECT probe_id, vec_id FROM ({_ivfpq_sql(2)}) q2),
a_np4 AS (SELECT probe_id, vec_id FROM ({_ivfpq_sql(4)}) q4),
h_sq8 AS (
  SELECT t.probe_id, COUNT(*) AS h FROM truth t
  JOIN a_sq8 a ON a.probe_id = t.probe_id AND a.vec_id = t.vec_id
  GROUP BY 1),
h_pq AS (
  SELECT t.probe_id, COUNT(*) AS h FROM truth t
  JOIN a_pq a ON a.probe_id = t.probe_id AND a.vec_id = t.vec_id
  GROUP BY 1),
h_np1 AS (
  SELECT t.probe_id, COUNT(*) AS h FROM truth t
  JOIN a_np1 a ON a.probe_id = t.probe_id AND a.vec_id = t.vec_id
  GROUP BY 1),
h_np2 AS (
  SELECT t.probe_id, COUNT(*) AS h FROM truth t
  JOIN a_np2 a ON a.probe_id = t.probe_id AND a.vec_id = t.vec_id
  GROUP BY 1),
h_np4 AS (
  SELECT t.probe_id, COUNT(*) AS h FROM truth t
  JOIN a_np4 a ON a.probe_id = t.probe_id AND a.vec_id = t.vec_id
  GROUP BY 1)
SELECT nt.probe_id,
       COALESCE(h_sq8.h, 0) / CAST(nt.n_truth AS DOUBLE) AS recall_sq8,
       COALESCE(h_pq.h, 0) / CAST(nt.n_truth AS DOUBLE) AS recall_pq,
       COALESCE(h_np1.h, 0) / CAST(nt.n_truth AS DOUBLE) AS recall_ivfpq_np1,
       COALESCE(h_np2.h, 0) / CAST(nt.n_truth AS DOUBLE) AS recall_ivfpq_np2,
       COALESCE(h_np4.h, 0) / CAST(nt.n_truth AS DOUBLE) AS recall_ivfpq_np4
FROM nt
LEFT JOIN h_sq8 ON h_sq8.probe_id = nt.probe_id
LEFT JOIN h_pq ON h_pq.probe_id = nt.probe_id
LEFT JOIN h_np1 ON h_np1.probe_id = nt.probe_id
LEFT JOIN h_np2 ON h_np2.probe_id = nt.probe_id
LEFT JOIN h_np4 ON h_np4.probe_id = nt.probe_id
ORDER BY nt.probe_id
"""


QUERIES["ann_index_comparison"] = ann_index_comparison
ORACLE["ann_index_comparison"] = _comparison_sql()
