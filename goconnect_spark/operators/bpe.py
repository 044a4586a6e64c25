"""Distributed BPE (byte-pair-encoding) merge-table induction — the
tokenizer-training step of an LLM data pipeline, run over the corpus
the way Sennrich et al. (ACL 2016, "Neural Machine Translation of Rare
Words with Subword Units") define it, but with the O(corpus) work
distributed:

- the corpus reduces ONCE to a (word, freq) vocabulary table (one
  shuffle; vocab-sized thereafter — the standard trick: BPE statistics
  only depend on the word-frequency table, not the raw corpus);
- each merge iteration is one in-row adjacent-pair expansion + one
  map-side-combined weighted count over the vocab table, then an
  argmax with a TOTAL tie-break (freq desc, pair lexicographic) whose
  single winning row crosses the driver (a 1-row bounded collect — the
  merge decision is inherently sequential; everything corpus-sized
  stays distributed);
- the chosen merge is applied in-row via a left fold over the symbol
  array (`F.aggregate` — whole-stage codegen, no Python in the loop),
  which reproduces greedy left-to-right non-overlapping replacement
  exactly (for "aaa" with merge (a,a): [aa, a], not [a, aa]);
- `localCheckpoint` every few merges truncates the lineage: each
  merge's argmax is a driver action that would otherwise re-run every
  earlier fold.

Application has one serving path and two references:

- `apply_bpe_wordlevel` serves: the corpus' distinct words go through
  the Arrow tokenizer `tokenize_words_py` (per-word cost independent
  of table size), and a broadcast join reassembles each document;
- `apply_bpe_replace` is the whole-document replace chain (one
  `replace()` per merge, capped at SQL_CHAIN_MAX_MERGES), replayed
  character for character by its DuckDB twins;
- `apply_bpe` is the per-word fold that shares `_merge_fold` with the
  trainer.

The reference engine has no tokenizer layer (SURVEY §2.8); this is
LLM-pipeline mandate surface. Cross-checked against the sequential
reference implementation `bpe_merges_py` by a property test — the
repo's distributed-vs-sequential equivalence contract (PPJoin /
PageRank pattern). Determinism: integer frequencies, total-order
tie-breaks, no RNG — byte-identical merge tables on any partitioning
(covered by the invariance suite's principles).
"""

from __future__ import annotations

from typing import List, Tuple

import pandas as pd  # module-level: pandas_udf string hints resolve here
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

_EOW = "</w>"  # end-of-word sentinel: merges never cross word ends
_SEP = "\x01"  # symbol-boundary marker for the replace-chain encoding


def _sym_split(col: Column) -> Column:
    """CODE-POINT-aware symbolization of a word: prefix every code
    point with the boundary marker, split on it, drop the leading
    empty. `F.split(col, "")` would cut non-BMP characters (emoji,
    rare CJK) into UTF-16 surrogate halves; Java regex `.` matches a
    full code point, so this path agrees with the per-code-point
    sequential reference (`list(w)` in Python). `(?s)` so embedded
    newlines symbolize too ('.' excludes them by default in both Java
    and RE2 — the same flag keeps the DuckDB twin identical)."""
    return F.filter(
        F.split(F.regexp_replace(col, "(?s)(.)", _SEP + "$1"), _SEP),
        lambda x: x != "",
    )


def _merge_fold(syms: Column, a: str, b: str) -> Column:
    """Left fold applying merge (a, b) -> a+b greedily left-to-right."""
    return F.aggregate(
        syms,
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) — the only corpus-sized pass BPE training needs."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    min_freq: int = 2,
) -> List[Tuple[str, str, int]]:
    """Learn the first `n_merges` BPE merges over `docs[text_col]`.
    Returns [(sym_a, sym_b, pair_freq), ...] in merge order; stops
    early when the best remaining pair's weighted frequency drops
    below `min_freq`."""
    vocab = word_freq_table(docs, text_col).select(
        "freq",
        F.concat(_sym_split(F.col("word")), F.array(F.lit(_EOW))).alias("syms"),
    ).localCheckpoint()

    merges: List[Tuple[str, str, int]] = []
    for it in range(n_merges):
        pairs = vocab.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(syms) - 2),"
                    " i -> struct(syms[i] as a, syms[i+1] as b))"
                )
            ).alias("p"),
        ).where(F.expr("size(syms) >= 2"))
        best = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").cast("long").alias("pf"))
            .orderBy(F.desc("pf"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["pf"] < min_freq:
            break
        a, b, pf = best[0]["a"], best[0]["b"], int(best[0]["pf"])
        merges.append((a, b, pf))
        vocab = vocab.select(
            "freq", _merge_fold(F.col("syms"), a, b).alias("syms")
        )
        # checkpoint every few merges: enough to keep the nested-fold
        # lineage shallow without paying a materialization job per
        # iteration (each checkpoint is a full vocab-table write)
        if (it + 1) % 4 == 0:
            vocab = vocab.localCheckpoint()
    return merges


def apply_bpe(
    docs: DataFrame,
    merges: List[Tuple[str, str, int]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize `text_col` with a learned merge table: per word, chars
    + end-of-word sentinel, then every merge applied in learned order —
    all in-row (one nested fold per merge, JVM-side)."""
    # drop empty split fragments (space runs, leading/trailing spaces):
    # training never sees them (word_freq_table filters ''), so
    # application must not emit phantom bare-sentinel tokens for them
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    per_word = F.transform(
        words, lambda w: F.concat(_sym_split(w), F.array(F.lit(_EOW)))
    )
    for a, b, _ in merges:
        per_word = F.transform(per_word, lambda syms: _merge_fold(syms, a, b))
    return docs.withColumn(out_col, F.flatten(per_word))


# --------------------------------------------------------------------
# Replace-chain application: the SQL-expressible (and faster) twin of
# `apply_bpe`. A document's symbol sequence is encoded as one string
# with every symbol WRAPPED in start/end markers:
#     "low" -> "\x01l\x02\x01o\x02\x01w\x02\x01</w>\x02"
# and applying merge (a, b) -> ab is then EXACTLY
#     replace(enc, "\x01a\x02\x01b\x02", "\x01ab\x02")
# because string replace() is left-to-right and non-overlapping in
# Spark, DuckDB, and Python alike — the same greedy order as the
# per-word fold ([a,a,a] -> [aa,a], never [a,aa]). BOTH markers are
# load-bearing: the start marker alone would let pattern symbol `b`
# match a longer symbol's PREFIX ("\x01s\x01ed</w>" matches
# "\x01s\x01e"), and a single BETWEEN-symbols separator would make
# adjacent matches share a character so every other occurrence is
# missed. A merge can never straddle a word boundary: a trained
# pair's FIRST symbol always has a successor inside some word, so it
# never contains the word-final `</w>` sentinel. Every step is a
# plain JVM string op (whole-stage codegen — no higher-order
# functions), and a DuckDB oracle replays the identical replace chain
# character for character.
# Assumes text contains no \x01/\x02 (true of any sane corpus; an
# adversarial marker char shifts boundaries identically in both
# engines, so the cross-engine contract still holds). The `</w>`
# sentinel carries the SAME corpus assumption (ADVICE r8): a corpus
# whose text contains the literal substring "</w>" can train a
# text-derived symbol that collides with the sentinel, and
# `_assert_no_straddle` will then reject the (validly trained) table
# with a ValueError — a loud, documented contract violation, never a
# silent straddle. Sanitize such corpora (or remap the sentinel)
# before training.
# --------------------------------------------------------------------
_SEND = "\x02"  # symbol-end marker

# Cap on the Spark-side replace chain: each merge adds one nested
# replace() Column node, and the JVM's Column-node-to-expression
# conversion recurses per node — measured on this runtime (default
# thread stack), 300 nested replaces build fine and 350 overflow the
# stack (java.lang.StackOverflowError at PLAN CONSTRUCTION, before any
# data moves). The cap turns that opaque crash into a ValueError
# pointing at `apply_bpe_wordlevel`, whose Arrow tokenizer has no
# table-size limit.
SQL_CHAIN_MAX_MERGES = 300


def _assert_no_straddle(merges) -> None:
    """Whole-document replace-chain safety: a merge whose FIRST symbol
    contains the `</w>` sentinel could match across a word boundary.
    Trained tables can never produce one (a pair's first symbol always
    has a successor inside some word) and the invariant is asserted at
    freeze time — this guard makes AD-HOC merge lists fail loudly
    instead of silently producing straddled tokens (ADVICE r7).
    ValueError, not assert: a safety guard must survive python -O.
    Contract note (ADVICE r8): the guard keys on the LITERAL `</w>`
    substring, so a corpus whose raw text contains "</w>" can train a
    first symbol this guard rejects — see the sentinel-collision
    paragraph above `_SEND` for the documented corpus assumption."""
    bad = [(a, b) for a, b, *_ in merges if _EOW in a]
    if bad:
        raise ValueError(
            f"merge first-symbol contains {_EOW!r} (would straddle word"
            f" boundaries): {bad[:3]}"
        )


def _wrap(sym: str) -> str:
    return _SEP + sym + _SEND


def encode_doc(text: Column) -> Column:
    """Whole-document marker encoding: collapse space runs, wrap every
    code point, turn the (wrapped) inter-word spaces into end-of-word
    sentinels, close the last word. Empty/all-space text encodes to
    ''."""
    norm = F.trim(F.regexp_replace(text, " +", " "))
    marked = F.regexp_replace(norm, "(?s)(.)", _SEP + "$1" + _SEND)
    enc = F.replace(marked, F.lit(_wrap(" ")), F.lit(_wrap(_EOW)))
    return F.when(norm == "", F.lit("")).otherwise(
        F.concat(enc, F.lit(_wrap(_EOW)))
    )


def apply_bpe_replace(
    docs: DataFrame,
    merges: List[Tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize with a learned merge table via the replace chain —
    one `replace()` per merge, all in-row, all codegen. Produces the
    identical token stream as `apply_bpe` (property-tested). On a
    DISTINCT-word table (`text_col="word"`) this is the vocab-sized
    reference that `tokenize_words_py` is property-tested against: a
    single word encodes exactly like a one-word document.

    Refuses tables beyond SQL_CHAIN_MAX_MERGES: past ~300-350 nested
    replaces the JVM overflows its stack while CONVERTING the Column
    tree, an opaque crash this guard replaces with a pointed error.
    Large tables belong on `apply_bpe_wordlevel`, whose Arrow
    tokenizer's per-word cost is independent of table size."""
    if len(merges) > SQL_CHAIN_MAX_MERGES:
        raise ValueError(
            f"SQL replace chain at {len(merges)} merges exceeds "
            f"SQL_CHAIN_MAX_MERGES={SQL_CHAIN_MAX_MERGES}: the nested "
            "replace() Column tree overflows the JVM stack at plan "
            "construction (measured boundary 300-350 on a default "
            "thread stack). Use apply_bpe_wordlevel for large tables."
        )
    _assert_no_straddle(merges)
    enc = encode_doc(F.col(text_col))
    for a, b, *_ in merges:
        enc = F.replace(enc, F.lit(_wrap(a) + _wrap(b)), F.lit(_wrap(a + b)))
    toks = F.filter(F.split(enc, f"[{_SEP}{_SEND}]"), lambda x: x != "")
    return docs.withColumn(out_col, toks)


def _wrap_sql(sym: str) -> str:
    lit = sym.replace("'", "''")
    return f"chr(1) || '{lit}' || chr(2)"


def _encode_sql(text_expr: str) -> str:
    """DuckDB twin of `encode_doc`: marker-wrap every code point,
    rewrite wrapped spaces into end-of-word sentinels."""
    norm = f"TRIM(regexp_replace({text_expr}, ' +', ' ', 'g'))"
    enc = (
        f"CASE WHEN {norm} = '' THEN '' "
        f"ELSE regexp_replace({norm}, '(?s)(.)', chr(1) || '\\1' || chr(2), 'g')"
        f" || {_wrap_sql(' ')} END"
    )
    # the marked string still has wrapped spaces; rewrite them (and
    # the appended trailing one) into sentinels in one replace
    return f"replace({enc}, {_wrap_sql(' ')}, {_wrap_sql(_EOW)})"


def apply_bpe_replace_sql(text_expr: str, merges: List[Tuple[str, str]]) -> str:
    """The DuckDB twin of `apply_bpe_replace` as a SQL expression
    producing the encoded string (split on the chr(1)/chr(2) markers
    downstream). Kept beside the Spark builder so the two replace
    chains can never drift."""
    _assert_no_straddle(merges)
    enc = _encode_sql(text_expr)
    for a, b, *_ in merges:
        enc = f"replace({enc}, {_wrap_sql(a)} || {_wrap_sql(b)}, {_wrap_sql(a + b)})"
    return enc


# DuckDB refuses to BIND a function-call tree deeper than 128 nested
# calls (BinderException "Maximum recursion depth exceeded (Maximum:
# 128)", probed round 10 on this runtime; unaffected by
# max_expression_depth, which governs the parser) — its own, much
# earlier analogue of the Spark-side JVM boundary measured in round 9
# (300 build / 350 StackOverflow). Deep oracle chains therefore stage
# the merges through chained CTEs, <= this many nested replace() calls
# per SELECT (stage 0 carries only the shallow encode expression; each
# merge stage nests its replaces around the bare `e` column reference).
# 100 leaves headroom under 128 for the handful of wrapper calls a
# consumer SELECT puts around `e` (split/filter/md5).
DUCKDB_STAGE_MERGES = 100


def apply_bpe_replace_sql_staged(
    text_expr: str,
    merges: List[Tuple[str, str]],
    source: str,
    carry_cols: Tuple[str, ...] = ("word",),
    cte_prefix: str = "bpe",
    stage: int = DUCKDB_STAGE_MERGES,
) -> Tuple[str, str]:
    """The deep-table DuckDB twin: the SAME replace chain as
    `apply_bpe_replace_sql`, staged through chained CTEs so tables far
    beyond DuckDB's 128-deep binder limit (240, 2,400 merges — the
    sizes whose Spark side is the Arrow `tokenize_words_py` engine)
    remain oracle-expressible. Sequential composition is exactly
    nested composition — replace N applies to the full result of
    replace N-1 either way — so staging changes nothing semantically;
    every stage is just a named prefix of the one chain.

    Returns (cte_sql, last_cte_name): `cte_sql` is a fragment to
    splice into a WITH list; the last CTE exposes `carry_cols` plus
    the encoded string as `e`. `source` must provide `text_expr` and
    the carry columns."""
    _assert_no_straddle(merges)
    cols = ", ".join(carry_cols)
    ctes = [f"{cte_prefix}0 AS (SELECT {cols}, {_encode_sql(text_expr)} AS e FROM {source})"]
    for k, i in enumerate(range(0, len(merges), stage), start=1):
        expr = "e"
        for a, b, *_ in merges[i : i + stage]:
            expr = f"replace({expr}, {_wrap_sql(a)} || {_wrap_sql(b)}, {_wrap_sql(a + b)})"
        ctes.append(
            f"{cte_prefix}{k} AS (SELECT {cols}, {expr} AS e FROM {cte_prefix}{k - 1})"
        )
    return ",\n".join(ctes), f"{cte_prefix}{len(ctes) - 1}"


# --------------------------------------------------------------------
# Word-level application: the MERGE-COUNT-SCALABLE serving path. The
# replace chain above is one full-document string pass PER MERGE —
# fine at the frozen 24 merges, a scale-killer at a production
# 32k-merge vocab (O(n_merges) passes over every document, and a
# 32k-deep Catalyst expression tree besides). BPE is deterministic per
# word, so the training trick applies to inference too: tokenize each
# DISTINCT word once (vocab-sized work), then broadcast-join the
# word→tokens map back onto the corpus. The corpus-side plan is then
# INDEPENDENT of merge count: one posexplode, one equi-join, one
# per-doc positional reassembly — identical whether the table has 24
# merges or 32k.
# --------------------------------------------------------------------
def tokenize_words_py(
    words: DataFrame,
    merges: List[Tuple[str, str]],
    word_col: str = "word",
    out_col: str = "toks",
) -> DataFrame:
    """(word, toks): Arrow pandas_udf tokenization of each row's word,
    the vocab-side tokenizer of `apply_bpe_wordlevel`. The replace
    chain (`apply_bpe_replace` on a word table) is one nested
    `replace()` per merge — hostile to Catalyst at a production 32k
    (expression depth, codegen method size). This path keeps the
    vocab-side work vocab-sized at ANY table size: per word, merges
    are applied with EXACTLY the chain's semantics — in table order,
    each greedily left-to-right — but scheduled via a rank map so each
    step only scans the pairs actually adjacent in the word
    (O(applied merges x |word|), not O(|table|)). Rank monotonicity is load-bearing: a merge can
    create a symbol that collides with an EARLIER merge's pattern
    (e.g. (ab,c) producing "abc" where ("x","abc") has lower rank);
    the chain never revisits passed merges, so neither does this —
    only ranks strictly greater than the last applied are candidates.
    Property-tested byte-identical to the chain, including that
    collision shape."""
    _assert_no_straddle(merges)
    pairs = [(a, b) for a, b, *_ in merges]
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def tok(col: pd.Series) -> pd.Series:  # batch-at-a-time over Arrow
        from bisect import bisect_right

        # pair -> ASCENDING rank list: a table may list the same pair
        # twice (a later merge can recreate adjacency when a merged
        # symbol string-collides with an original), and the chain
        # applies every listed occurrence in order
        ranks: dict = {}
        for i, p in enumerate(pairs):
            ranks.setdefault(p, []).append(i)

        def one(w):
            # NULL word -> NULL toks, matching the replace chain
            # exactly (encode_doc propagates null through
            # regexp_replace), so the two agree even on a word table
            # containing nulls — inside apply_bpe_wordlevel the vocab
            # is null-free either way
            if not isinstance(w, str):
                return None
            # empty word tokenizes to the empty sequence, exactly
            # like encode_doc('') -> '' -> no tokens
            if w == "":
                return []
            syms = list(w) + [_EOW]  # list() splits per CODE POINT
            last = -1
            while True:
                best = None
                for i in range(len(syms) - 1):
                    rs = ranks.get((syms[i], syms[i + 1]))
                    if rs is None:
                        continue
                    j = bisect_right(rs, last)
                    if j < len(rs) and (best is None or rs[j] < best):
                        best = rs[j]
                if best is None:
                    return syms
                a, b = pairs[best]
                out = []
                for s in syms:  # greedy left-to-right, non-overlapping
                    if out and out[-1] == a and s == b:
                        out[-1] = a + b
                    else:
                        out.append(s)
                syms = out
                last = best

        return col.map(one)

    return words.withColumn(out_col, tok(word_col))


def apply_bpe_wordlevel(
    docs: DataFrame,
    merges: List[Tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    id_cols: Tuple[str, ...] = ("doc_id",),
    word_tokens: "DataFrame | None" = None,
) -> DataFrame:
    """Tokenize via the word-level path: distinct words -> Arrow
    tokenizer (`tokenize_words_py`, vocab-sized work at any table
    size) -> broadcast equi-join onto the posexploded corpus -> per-doc
    positional reassembly. Produces the identical token stream as
    `apply_bpe_replace` (property-tested): merges never straddle word
    boundaries (`_assert_no_straddle`), so a document's whole-text
    chain is exactly the concatenation of its words' chains.
    `id_cols` must uniquely key `docs` and be NON-NULL (reassembly
    groups on them; a null key never equi-joins, so such a doc would
    silently get an empty token array). Docs with no words
    (empty/all-space/null text) get an empty token array.

    `word_tokens` optionally injects a pre-materialized (word, toks)
    dictionary covering every corpus word — at 100 TB the tokenized
    vocabulary is a versioned artifact built once per tokenizer
    release and reused across datasets, so the per-run corpus plan is
    JUST explode + join + reassembly, with zero per-merge work."""
    _assert_no_straddle(merges)
    ids = list(id_cols)
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    exploded = docs.select(*ids, F.posexplode(words).alias("pos", "word"))
    if word_tokens is not None:
        # an injected dictionary can be STALE (a new corpus word the
        # artifact predates — the expected failure mode of a
        # build-once, reuse-everywhere vocabulary). An inner join
        # would silently DROP such words from the reassembled stream;
        # instead left-join and raise in-plan on the first miss, so a
        # stale dictionary fails the job loudly instead of corrupting
        # token sequences.
        wt = F.broadcast(word_tokens.select("word", "toks"))
        joined = exploded.join(wt, "word", "left").withColumn(
            "toks",
            F.when(
                F.col("toks").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("apply_bpe_wordlevel: word missing from the"
                              " injected word_tokens dictionary: "),
                        F.col("word"),
                    )
                ),
            ).otherwise(F.col("toks")),
        )
    else:
        vocab = exploded.select("word").distinct()
        wt = F.broadcast(tokenize_words_py(vocab, merges).select("word", "toks"))
        joined = exploded.join(wt, "word")
    # array_sort on (pos, toks) structs orders by pos (unique per doc),
    # so reassembly is deterministic under any partitioning/arrival
    # order of collect_list — the invariance-suite contract
    agg = (
        joined
        .groupBy(*ids)
        .agg(
            F.expr(
                "flatten(transform(array_sort(collect_list(struct(pos, toks))),"
                " x -> x.toks))"
            ).alias(out_col)
        )
    )
    return docs.join(agg, ids, "left").withColumn(
        out_col,
        F.coalesce(F.col(out_col), F.expr("cast(array() as array<string>)")),
    )


def bpe_merges_py(
    word_freqs: dict, n_merges: int = 10, min_freq: int = 2
) -> List[Tuple[str, str, int]]:
    """Sequential reference of the IDENTICAL algorithm (property
    tests): same symbolization, same greedy left-to-right merge, same
    (freq desc, a asc, b asc) tie-break."""
    vocab = {tuple(list(w) + [_EOW]): f for w, f in word_freqs.items() if w}
    merges: List[Tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get(
                    (syms[i], syms[i + 1]), 0
                ) + f
        if not counts:
            break
        (a, b), pf = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if pf < min_freq:
            break
        merges.append((a, b, pf))
        new_vocab: dict = {}
        for syms, f in vocab.items():
            out: list = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges
