"""Training-data hygiene operators, batch 2 (round 2):

- benchmark_contamination: which training docs contain word-trigrams
  from a held-out eval set (the decontamination pass every LLM
  pipeline runs before training). The eval set here is the
  deterministic doc_id % 97 == 0 slice; the benchmark trigram set is
  broadcast and candidates come from one equi-join on the trigram —
  at 100 TB this is the same shape as the minhash band join, no
  all-pairs anything.
- doc_repetition_ratio: per-doc token-repetition signals (distinct
  share and top-token share — the Gopher-style repetition quality
  rules). One groupBy(doc, token) + one groupBy(doc).
- vocab_oov_rate: out-of-vocabulary share per doc against the top-K
  corpus vocabulary (tokenizer-coverage planning): one global token
  count -> broadcast top-K -> per-doc aggregate.

Determinism: every ratio is a division of identical integers in both
engines (exact, order-independent); top-K vocabulary ties break on
(count DESC, token ASC).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from goconnect_spark.tables import load

_EVAL_MOD = 97  # doc_id % _EVAL_MOD == 0 -> held-out eval doc
_VOCAB_K = 25


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))


def _trigrams(docs: DataFrame) -> DataFrame:
    words = docs.select("doc_id", F.split("text", " ").alias("w")).where(F.size("w") >= 3)
    return words.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
            )
        ).alias("g"),
    )


_TRIGRAMS_CTE = """
grams AS (
  SELECT doc_id,
         list_aggregate(list_slice(string_split(text, ' '), i, i + 2), 'string_agg', ' ') AS g
  FROM documents, unnest(generate_series(1, len(string_split(text, ' ')) - 2)) AS t(i)
)
"""


def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, "documents", sf_dir)
    grams = _trigrams(docs)
    bench = (
        grams.where(F.col("doc_id") % _EVAL_MOD == 0).select("g").distinct()
    )
    # r14 (guide §2.3 "shuffle fewer bytes"): the train side used to
    # .distinct() the full (doc_id, trigram) stream BEFORE the
    # selective broadcast join — a corpus-sized string shuffle whose
    # rows the join then mostly discarded. Join first (map-side,
    # broadcast bench), dedup after: bench.g is unique, so matched
    # (doc_id, g) multiplicity comes only from train repeats and
    # count(DISTINCT g) per doc equals the old count over the
    # pre-distincted stream. The only wide shuffle left is the
    # post-join aggregate over the (small) contaminated subset.
    # bench is corpus-proportional (the eval split's distinct
    # trigrams), so no forced broadcast hint (r15, VERDICT r14 item
    # 3). Its explode+distinct size ESTIMATE is useless without CBO,
    # so it is materialized per-query via localCheckpoint: the planner
    # sees its real bytes and broadcasts exactly when genuinely small
    # — at 100 TB the same code gets the shuffle join it needs. The
    # eager barrier costs nothing extra here: the join cannot start
    # until bench is built either way.
    train = grams.where(F.col("doc_id") % _EVAL_MOD != 0)
    return (
        train.join(bench.localCheckpoint(), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_matched"))
        .orderBy("doc_id")
    )


_CONTAMINATION_SQL = f"""
WITH {_TRIGRAMS_CTE},
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % {_EVAL_MOD} = 0),
train AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % {_EVAL_MOD} <> 0)
SELECT t.doc_id, COUNT(*) AS n_matched
FROM train t JOIN bench b USING (g)
GROUP BY t.doc_id ORDER BY doc_id
"""


def doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, "documents", sf_dir)
    per_tok = (
        _tokens(docs)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").cast("long").alias("top_tok_count"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            (F.lit(1.0) - F.col("n_distinct") / F.col("n_tokens")).alias("rep_ratio"),
            (F.col("top_tok_count") / F.col("n_tokens")).alias("top_tok_share"),
        )
        .orderBy("doc_id")
    )


_REPETITION_SQL = """
WITH per_tok AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_distinct,
       (1.0 - COUNT(*) / CAST(SUM(c) AS BIGINT)) AS rep_ratio,
       (CAST(MAX(c) AS BIGINT) / CAST(SUM(c) AS BIGINT)) AS top_tok_share
FROM per_tok GROUP BY doc_id ORDER BY doc_id
"""


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, "documents", sf_dir)
    toks = _tokens(docs)
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    # top-K via orderBy+limit = TakeOrderedAndProject (distributed
    # per-partition top-K then merge), not a single-partition window
    vocab = counts.orderBy(F.desc("c"), F.asc("tok")).limit(_VOCAB_K).select("tok")
    tagged = toks.join(F.broadcast(vocab).withColumn("in_vocab", F.lit(1)), "tok", "left")
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast("long").alias("n_oov"),
        )
        .select(
            "doc_id", "n_tokens", "n_oov", (F.col("n_oov") / F.col("n_tokens")).alias("oov_rate")
        )
        .orderBy("doc_id")
    )


_OOV_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
vocab AS (
  SELECT tok FROM (
    SELECT tok, ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS rk FROM counts
  ) WHERE rk <= {_VOCAB_K}
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       (CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*)) AS oov_rate
FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
GROUP BY t.doc_id ORDER BY t.doc_id
"""


_COOC_MIN_DF = 25  # vocabulary prune: words in >= 25 docs
_COOC_MIN_PAIR = 10  # pair support threshold
_COOC_TOP = 50


def word_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level word association: top pairs by lift =
    P(w1,w2) / (P(w1) P(w2)) = pair_docs * n_docs / (df1 * df2).

    All inputs to the score are exact integer counts, so the single
    double division is bit-identical across engines (no logs — this is
    the PMI ratio before the log, which is monotone in PMI).

    Scale shape: the quadratic danger in co-occurrence is the per-doc
    self-join. It is bounded FIRST by pruning the vocabulary to words
    with df >= _COOC_MIN_DF (broadcast semi-join on the token
    stream — at real vocab sizes this is the step that makes the
    pair-join tractable), then pairing only distinct (doc, word) with
    w1 < w2. The pair aggregation is one shuffle on (w1, w2); df
    lookups re-use the tiny pruned-vocab table, broadcast twice.
    """
    from goconnect_spark.queries.corpus import doc_tokens_distinct

    docs = load(spark, "documents", sf_dir)
    n_docs = docs.count()  # scalar dim seed, one cheap job
    dw = doc_tokens_distinct(spark, sf_dir)  # shared persisted incidence table
    dfc = dw.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    vocab = dfc.where(F.col("df") >= _COOC_MIN_DF)
    dwv = dw.join(F.broadcast(vocab.select("tok")), "tok", "left_semi")
    # pair generation is an IN-ROW expansion of each doc's sorted
    # pruned-token set (w1 < w2 by construction): the doc-level
    # self-join disappears; one groupBy collects the per-doc sets and
    # the only remaining shuffle is the (w1, w2) support aggregation
    # with map-side combine into the vocab²-bounded key space.
    pairs = (
        dwv.groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("tok")).alias("ws"))
        .select(F.posexplode("ws").alias("i", "w1"), "ws")
        .select("w1", F.explode(F.expr("slice(ws, i + 2, size(ws))")).alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_docs"))
        .where(F.col("pair_docs") >= _COOC_MIN_PAIR)
    )
    v1 = vocab.select(F.col("tok").alias("w1"), F.col("df").alias("df1"))
    v2 = vocab.select(F.col("tok").alias("w2"), F.col("df").alias("df2"))
    return (
        pairs.join(F.broadcast(v1), "w1")
        .join(F.broadcast(v2), "w2")
        .select(
            "w1",
            "w2",
            "pair_docs",
            "df1",
            "df2",
            (
                (F.col("pair_docs") * F.lit(int(n_docs))).cast("double")
                / (F.col("df1") * F.col("df2")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(_COOC_TOP)
    )


_COOC_SQL = f"""
WITH dw AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
dfc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dw GROUP BY tok),
vocab AS (SELECT * FROM dfc WHERE df >= {_COOC_MIN_DF}),
dwv AS (SELECT dw.doc_id, dw.tok FROM dw JOIN vocab USING (tok)),
pairs AS (
  SELECT a.tok AS w1, b.tok AS w2, CAST(COUNT(*) AS BIGINT) AS pair_docs
  FROM dwv a JOIN dwv b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY a.tok, b.tok
  HAVING COUNT(*) >= {_COOC_MIN_PAIR}
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT w1, w2, pair_docs, v1.df AS df1, v2.df AS df2,
       CAST(pair_docs * n_docs AS DOUBLE) / CAST(v1.df * v2.df AS DOUBLE) AS lift
FROM pairs
JOIN vocab v1 ON v1.tok = w1
JOIN vocab v2 ON v2.tok = w2
CROSS JOIN n
ORDER BY lift DESC, w1, w2
LIMIT {_COOC_TOP}
"""


_BIGRAM_MIN = 15  # bigram support threshold (sf-relative; ~2% of heads at sf0.01)
_BIGRAM_TOP = 40


def bigram_cond_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-bigram language-model counts: P(w2 | w1) =
    c(w1 w2) / c(w1 *) for the top bigrams — the count layer of an
    n-gram LM (used for perplexity-style corpus filtering).

    Exact integer counts; the conditional probability is one double
    division of exact ints. Bigrams come from zipping each token array
    with its tail (transform over the array — no self-join at all);
    the denominator counts w1 occurrences AS A BIGRAM HEAD (tokens
    followed by something), so numerators sum to the denominator
    exactly. One shuffle per aggregation, both with partial combine.
    """
    from goconnect_spark.queries.corpus import doc_token_arrays

    grams = (
        doc_token_arrays(spark, sf_dir)
        .select(
            F.explode(
                F.expr(
                    "transform(slice(toks, 1, size(toks) - 1),"
                    " (w, i) -> struct(w as w1, element_at(toks, i + 2) as w2))"
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2")
    )
    pair = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    # r14 note: deriving c1 from the pair table (sum of c12 over w1 —
    # an exact identity) was measured and REJECTED at sf0.1: both the
    # window form (0.62 s) and the re-aggregate+broadcast form (0.69 s)
    # lose to this second map-side-combining pass over the cached token
    # stream (0.56 s) — the explode is cheap and fully parallel while
    # the derived forms serialize on the pair aggregate.
    head = grams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    return (
        pair.where(F.col("c12") >= _BIGRAM_MIN)
        .join(F.broadcast(head), "w1")
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            (F.col("c12").cast("double") / F.col("c1").cast("double")).alias("cond_p"),
        )
        .orderBy(F.desc("c12"), "w1", "w2")
        .limit(_BIGRAM_TOP)
    )


_BIGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
grams AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)
),
pair AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM grams GROUP BY w1, w2),
head AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM grams GROUP BY w1)
SELECT p.w1, p.w2, c12, c1,
       CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE) AS cond_p
FROM pair p JOIN head h ON p.w1 = h.w1
WHERE c12 >= {_BIGRAM_MIN}
ORDER BY c12 DESC, p.w1, p.w2
LIMIT {_BIGRAM_TOP}
"""


def source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture report per document source: token counts and
    sqrt-temperature (alpha = 0.5) sampling weights relative to the
    largest source — the standard move that up-weights small
    high-quality sources without normalizing by an order-dependent
    float sum (weights relative to the max stay deterministic:
    sqrt(n_i) / sqrt(n_max), both exact IEEE sqrt of integers).
    """
    docs = load(spark, "documents", sf_dir)
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy()
    return (
        per_src.withColumn("max_tokens", F.max("n_tokens").over(w))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (
                F.sqrt(F.col("n_tokens").cast("double"))
                / F.sqrt(F.col("max_tokens").cast("double"))
            ).alias("temp_weight"),
        )
        .orderBy("source")
    )


_SOURCE_MIX_SQL = """
WITH per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
       SQRT(CAST(n_tokens AS DOUBLE)) / SQRT(CAST(MAX(n_tokens) OVER () AS DOUBLE)) AS temp_weight
FROM per_src ORDER BY source
"""


def source_divergence_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source total-variation distance between the source's
    unigram token distribution and the whole-corpus distribution —
    the drift diagnostic behind mixture rebalancing (is one crawl
    slice lexically unlike the rest of the corpus?).

    TV needs no logs, so unlike KL/JS it can be computed EXACTLY:
    0.5 * sum_w |c_sw/n_s - c_w/n| splits into the words present in
    the source (integer |c_sw*n - c_w*n_s|, accumulated in
    DECIMAL(38,0) / HUGEINT so 1e12-token corpora can't overflow the
    product) plus the absent-word mass (n - sum_present c_w)/n —
    no source x vocab grid is ever materialized. Only integer sums
    cross aggregation boundaries; the two final divisions divide
    identical integers in both engines (module determinism contract).

    Plan: one (source, word) aggregation of the token table, a vocab
    rollup of that aggregate (no second corpus scan), one equi-join
    on word, and a vertex-dim join on source. Everything after the
    first shuffle is bounded by |S| x |V|.
    """
    docs = load(spark, "documents", sf_dir)
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    sw = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c_sw")
    )
    cw = sw.groupBy("tok").agg(F.sum("c_sw").cast("long").alias("c_w"))
    ns = sw.groupBy("source").agg(F.sum("c_sw").cast("long").alias("n_s"))
    n_row = cw.agg(F.sum("c_w").cast("long").alias("n"))
    dec = "decimal(38,0)"
    per_src = (
        sw.join(cw, "tok")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n_row))
        .groupBy("source")
        .agg(
            F.min("n_s").alias("n_tokens"),
            F.min("n").alias("n_total"),
            F.count(F.lit(1)).cast("long").alias("n_vocab_present"),
            F.sum(
                F.abs(
                    F.col("c_sw").cast(dec) * F.col("n").cast(dec)
                    - F.col("c_w").cast(dec) * F.col("n_s").cast(dec)
                )
            )
            .cast(dec)
            .alias("a_present"),
            F.sum("c_w").cast("long").alias("b_present"),
        )
    )
    nd = F.col("n_total").cast("double")
    tv = F.lit(0.5) * (
        F.col("a_present").cast("double") / (F.col("n_tokens").cast("double") * nd)
        + (F.col("n_total") - F.col("b_present")).cast("double") / nd
    )
    return per_src.select(
        "source", "n_tokens", "n_vocab_present", tv.alias("tv_dist")
    ).orderBy("source")


_SOURCE_TV_SQL = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
sw AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_sw FROM toks GROUP BY source, tok
),
cw AS (SELECT tok, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY tok),
ns AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s FROM sw GROUP BY source),
n AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n FROM cw),
per_src AS (
  SELECT sw.source,
         MIN(ns.n_s) AS n_tokens,
         MIN(n.n) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS n_vocab_present,
         SUM(ABS(CAST(c_sw AS HUGEINT) * n.n - CAST(c_w AS HUGEINT) * ns.n_s)) AS a_present,
         CAST(SUM(c_w) AS BIGINT) AS b_present
  FROM sw JOIN cw USING (tok) JOIN ns USING (source) CROSS JOIN n
  GROUP BY sw.source
)
SELECT source, n_tokens, n_vocab_present,
       0.5 * (CAST(CAST(a_present AS VARCHAR) AS DOUBLE)
                / (CAST(n_tokens AS DOUBLE) * CAST(n_total AS DOUBLE))
              + CAST(n_total - b_present AS DOUBLE) / CAST(n_total AS DOUBLE)
             ) AS tv_dist
FROM per_src ORDER BY source
"""


def phrase_search_top_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search over the corpus' positional inverted
    index: mine the single most frequent 3-word phrase (ties broken
    alphabetically, so the winner is deterministic at every scale),
    then return every (doc_id, start_pos) occurrence — the IR shape
    behind quote detection and boilerplate-span localization.

    Plan: the trigram occurrence table is built IN-ROW from the shared
    token arrays (array slicing, no self-joins — three exploded copies
    joined on pos would shuffle the corpus twice); the argmax is one
    keyed count + a global top-1 (TakeOrderedAndProject, constant
    memory); the search is a broadcast equi-join of that 1-phrase row
    back against the occurrence table. At 100 TB the occurrence table
    is the positional posting list a real index would materialize
    bucketed by term.
    """
    from goconnect_spark.queries.corpus import doc_token_arrays

    toks = doc_token_arrays(spark, sf_dir).where(F.size("toks") >= 3)
    occ = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, size(toks)-3),"
                " i -> struct(toks[i] as w1, toks[i+1] as w2, toks[i+2] as w3))"
            )
        ).alias("pos", "g"),
    ).select("doc_id", "pos", "g.w1", "g.w2", "g.w3")
    top = (
        occ.groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "w1", "w2", "w3")
        .limit(1)
    )
    return (
        occ.join(F.broadcast(top), ["w1", "w2", "w3"])
        .select(
            F.concat_ws(" ", "w1", "w2", "w3").alias("phrase"),
            "doc_id",
            F.col("pos").cast("long").alias("start_pos"),
            "n_occurrences",
        )
        .orderBy("doc_id", "start_pos")
    )


_PHRASE_SQL = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
gr AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 2),
                i -> {'pos': i - 1, 'w1': toks[i], 'w2': toks[i+1], 'w3': toks[i+2]})) AS g
  FROM w
),
occ AS (
  SELECT doc_id, g.pos AS pos, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3 FROM gr
),
top AS (
  SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM occ GROUP BY w1, w2, w3
  ORDER BY n_occurrences DESC, w1, w2, w3 LIMIT 1
)
SELECT concat_ws(' ', o.w1, o.w2, o.w3) AS phrase,
       o.doc_id,
       CAST(o.pos AS BIGINT) AS start_pos,
       t.n_occurrences
FROM occ o JOIN top t USING (w1, w2, w3)
ORDER BY o.doc_id, o.pos
"""


def doc_lexical_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: type-token ratio and Gini
    impurity of the token distribution, (n^2 - sum(c_w^2)) / n^2 — the
    log-free diversity measure (Shannon entropy needs ln, whose last
    ulp is not portable across engines; Gini is integers until one
    final division). Low diversity flags template/boilerplate docs the
    way repetition-ratio does, but at whole-distribution rather than
    top-gram granularity.

    Plan: (doc, word) count aggregate, then per-doc rollup — the
    gopher_quality_rules two-shuffle shape, both keyed by doc_id with
    map-side partials.
    """
    docs = load(spark, "documents", sf_dir)
    per_word = (
        _tokens(docs)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per_doc = per_word.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_c2"),
    )
    nd = F.col("n_tokens").cast("double")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_types",
        (F.col("n_types").cast("double") / nd).alias("type_token_ratio"),
        (
            (nd * nd - F.col("sum_c2").cast("double")) / (nd * nd)
        ).alias("gini_diversity"),
    ).orderBy("doc_id")


_GINI_SQL = """
WITH per_word AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY doc_id, tok
),
per_doc AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(c * c) AS BIGINT) AS sum_c2
  FROM per_word GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types,
       CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS type_token_ratio,
       (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE) - CAST(sum_c2 AS DOUBLE))
         / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)) AS gini_diversity
FROM per_doc ORDER BY doc_id
"""

QUERIES = {
    "benchmark_contamination": benchmark_contamination,
    "phrase_search_top_trigram": phrase_search_top_trigram,
    "doc_repetition_ratio": doc_repetition_ratio,
    "vocab_oov_rate": vocab_oov_rate,
    "word_cooccurrence": word_cooccurrence,
    "bigram_cond_prob": bigram_cond_prob,
    "source_mix_weights": source_mix_weights,
    "source_divergence_tv": source_divergence_tv,
    "doc_lexical_gini": doc_lexical_gini,
}

ORACLE = {
    "doc_lexical_gini": _GINI_SQL,
    "phrase_search_top_trigram": _PHRASE_SQL,
    "source_divergence_tv": _SOURCE_TV_SQL,
    "word_cooccurrence": _COOC_SQL,
    "bigram_cond_prob": _BIGRAM_SQL,
    "source_mix_weights": _SOURCE_MIX_SQL,
    "benchmark_contamination": _CONTAMINATION_SQL,
    "doc_repetition_ratio": _REPETITION_SQL,
    "vocab_oov_rate": _OOV_SQL,
}


# --------------------------------------------------------------------
# BPE tokenization with the FROZEN merge table (queries/_bpe_frozen.py,
# trained offline by tools/build_bpe_merges.py — the same
# freeze-the-fit pattern as the PQ codebooks / IVF centroids). The
# r6-era `bpe_merge_table` entry ran the INDUCTION loop in-catalog and
# was the catalog's only rows-only row (the iterative argmax is not
# one SQL query); induction is now a tools/ build step whose
# distributed trainer stays property-verified against the sequential
# reference (tests/test_bpe_property.py), and the catalog entry is the
# APPLICATION of the frozen table — a pure replace chain (see
# operators/bpe.py: boundary-marker encoding makes greedy
# left-to-right merging exactly `replace()`), which the DuckDB oracle
# replays character for character.
# Scale: the SPARK side does not run the replace chain over documents
# — that plan is O(n_merges) full-document passes, fine at 24 merges
# but a scale-killer at a production 32k-merge vocab. BPE is
# deterministic per word, so token counts decompose: corpus reduces
# ONCE to (word, freq) — the same merge-count-INDEPENDENT pass
# training uses — then only the DISTINCT words run the replace chain
# (vocab-sized work), and token counts are freq-weighted sums.
# Corpus-side cost is identical at 24 or 32k merges. The DuckDB
# oracle still replays the WHOLE-DOCUMENT chain —
# a structurally different derivation that agrees only if the
# word-boundary invariant (merges never straddle words) truly holds,
# making the cross-engine check strictly stronger than a mirror.
# --------------------------------------------------------------------
def bpe_tokenize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goconnect_spark.operators.bpe import apply_bpe_replace, word_freq_table
    from goconnect_spark.queries._bpe_frozen import BPE_MERGES

    docs = load(spark, "documents", sf_dir)
    wf = word_freq_table(docs)  # the only corpus-sized pass
    wt = apply_bpe_replace(wf, BPE_MERGES, text_col="word", out_col="toks")
    # explode_OUTER is load-bearing for the scale claim: plain explode
    # lets InferFiltersFromGenerate synthesize `size(toks) > 0`, and
    # because toks is a pure function of the grouping key, Catalyst
    # pushes the entire replace chain BELOW the word aggregate — i.e.
    # onto every corpus word occurrence (measured 47 s vs 1.3 s at 240
    # merges x 50k docs). explode_outer infers no such filter; the
    # post-generate null guard is row-cheap and can't be pushed below
    # its own generator. (toks is never empty/null for a non-empty
    # word — every word yields >= 1 symbol + the </w> sentinel — so
    # the outer variant emits the identical rows.)
    return (
        wt.select(F.explode_outer("toks").alias("token"), "freq")
        .where(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.sum("freq").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(100)
    )


def _bpe_tokenize_sql() -> str:
    from goconnect_spark.operators.bpe import apply_bpe_replace_sql
    from goconnect_spark.queries._bpe_frozen import BPE_MERGES

    return f"""
WITH enc AS (SELECT {apply_bpe_replace_sql('text', BPE_MERGES)} AS e FROM documents),
toks AS (
  SELECT t.token
  FROM enc,
       unnest(string_split_regex(enc.e, chr(1) || '|' || chr(2))) AS t(token)
  WHERE t.token <> ''
)
SELECT token, CAST(COUNT(*) AS BIGINT) AS n
FROM toks
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 100
"""


# --------------------------------------------------------------------
# Per-document BPE tokenization through the word-level serving path
# (operators/bpe.apply_bpe_wordlevel): posexplode corpus words,
# tokenize the distinct words with the Arrow rank-schedule tokenizer
# (`tokenize_words_py`, the 32k-merge production path), broadcast-join
# the word map back and reassemble each document's token sequence
# positionally. The md5 over the ORDERED token stream is the
# load-bearing column — it certifies that broadcast-join reassembly
# reproduces the exact in-order tokenization, not just the same token
# multiset. Corpus-side plan (explode + join + groupBy) is independent
# of merge count. The oracle replays the whole-document replace chain
# per doc, so the two engines derive the sequence DIFFERENTLY and must
# land on the same md5.
# --------------------------------------------------------------------
def bpe_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goconnect_spark.operators.bpe import apply_bpe_wordlevel
    from goconnect_spark.queries._bpe_frozen import BPE_MERGES

    docs = load(spark, "documents", sf_dir)
    return (
        apply_bpe_wordlevel(docs, BPE_MERGES)
        .select(
            "doc_id",
            F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
            F.size(F.array_distinct("bpe_tokens")).cast("long").alias("n_token_types"),
            F.md5(F.concat_ws("\x1f", "bpe_tokens")).alias("tokens_md5"),
        )
        .orderBy("doc_id")
    )


def _bpe_doc_tokens_sql() -> str:
    from goconnect_spark.operators.bpe import apply_bpe_replace_sql
    from goconnect_spark.queries._bpe_frozen import BPE_MERGES

    return f"""
WITH enc AS (SELECT doc_id, {apply_bpe_replace_sql('text', BPE_MERGES)} AS e FROM documents),
tl AS (
  -- COALESCE pins the null-text contract: NULL text tokenizes to the
  -- EMPTY token sequence (the Spark side's word-level path finds no
  -- words and coalesces to array()), not to NULL — so both engines
  -- report 0 tokens and md5('') for such docs
  SELECT doc_id,
         list_filter(string_split_regex(COALESCE(e, ''), chr(1) || '|' || chr(2)), x -> x <> '') AS toks
  FROM enc
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_token_types,
       -- DuckDB's array_to_string follows string_agg semantics and
       -- returns NULL for an empty list; Spark's concat_ws returns ''.
       -- Empty/null-text docs therefore need the COALESCE so both
       -- engines report md5('')
       md5(COALESCE(array_to_string(toks, chr(31)), '')) AS tokens_md5
FROM tl ORDER BY doc_id
"""


# --------------------------------------------------------------------
# Deep-merge-table certification of the Arrow tokenizer (round 10,
# VERDICT r9 item 3). The catalog certified `tokenize_words_py` only
# at the frozen 24-merge table; its deep behavior (240 / 2,400
# merges — the production-vocab regime where the SQL chain cannot
# exist: the JVM overflows past ~300 nested replaces) was pinned only
# by property tests. DuckDB has its own, much earlier nesting
# boundary (binder recursion limit 128, probed r10) — but unlike the
# JVM cliff it is PURELY syntactic, so the oracle stages the
# identical chain through chained CTEs (operators/bpe.
# apply_bpe_replace_sql_staged: sequential composition == nested
# composition) and replays all 240 and all 2,400 merges exactly.
# Spark side: the corpus reduces once to (word, freq), then the
# Arrow rank-schedule engine tokenizes each distinct word under BOTH
# deep tables — per-word O(applied merges), merge-count-flat corpus
# cost, the measured 100 TB serving plan (SCALING.md r9 axis). The
# md5 over each word's ORDERED token stream at each depth is the
# load-bearing column: a single mis-scheduled merge at ANY rank in
# either table diverges the hash. This is one decade (and two)
# deeper than the previous strongest certificate (VERDICT r9 item 3
# asked for >= 240).
# --------------------------------------------------------------------
def bpe_vocab_deep_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goconnect_spark.operators.bpe import tokenize_words_py, word_freq_table
    from goconnect_spark.queries._bpe_frozen240 import BPE_MERGES_240
    from goconnect_spark.queries._bpe_frozen2400 import BPE_MERGES_2400

    docs = load(spark, "documents", sf_dir)
    wf = word_freq_table(docs)  # the only corpus-sized pass
    wt = tokenize_words_py(wf, BPE_MERGES_240, out_col="toks240")
    wt = tokenize_words_py(wt, BPE_MERGES_2400, out_col="toks2400")
    return (
        wt.select(
            "word",
            F.col("freq").cast("long").alias("freq"),
            F.size("toks240").cast("long").alias("n_toks_240"),
            F.md5(F.concat_ws("\x1f", "toks240")).alias("toks_md5_240"),
            F.size("toks2400").cast("long").alias("n_toks_2400"),
            F.md5(F.concat_ws("\x1f", "toks2400")).alias("toks_md5_2400"),
        )
        .orderBy("word")
    )


def _bpe_vocab_deep_sql() -> str:
    from goconnect_spark.operators.bpe import apply_bpe_replace_sql_staged
    from goconnect_spark.queries._bpe_frozen240 import BPE_MERGES_240
    from goconnect_spark.queries._bpe_frozen2400 import BPE_MERGES_2400

    ctes_a, last_a = apply_bpe_replace_sql_staged(
        "word", BPE_MERGES_240, source="words", carry_cols=("word", "freq"),
        cte_prefix="d240_",
    )
    ctes_b, last_b = apply_bpe_replace_sql_staged(
        "word", BPE_MERGES_2400, source="words", carry_cols=("word",),
        cte_prefix="d2400_",
    )
    tok_list = (
        "list_filter(string_split_regex(e, chr(1) || '|' || chr(2)),"
        " x -> x <> '')"
    )
    return f"""
WITH words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> '' GROUP BY word
),
{ctes_a},
{ctes_b},
a AS (SELECT word, freq, {tok_list} AS toks FROM {last_a}),
b AS (SELECT word, {tok_list} AS toks FROM {last_b})
SELECT a.word AS word, a.freq AS freq,
       CAST(len(a.toks) AS BIGINT) AS n_toks_240,
       md5(array_to_string(a.toks, chr(31))) AS toks_md5_240,
       CAST(len(b.toks) AS BIGINT) AS n_toks_2400,
       md5(array_to_string(b.toks, chr(31))) AS toks_md5_2400
FROM a JOIN b ON a.word = b.word
ORDER BY word
"""


QUERIES["bpe_tokenize_corpus"] = bpe_tokenize_corpus
ORACLE["bpe_tokenize_corpus"] = _bpe_tokenize_sql()
QUERIES["bpe_doc_tokens"] = bpe_doc_tokens
ORACLE["bpe_doc_tokens"] = _bpe_doc_tokens_sql()
QUERIES["bpe_vocab_deep_tokens"] = bpe_vocab_deep_tokens
ORACLE["bpe_vocab_deep_tokens"] = _bpe_vocab_deep_sql()
