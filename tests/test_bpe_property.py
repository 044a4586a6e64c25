"""Distributed-vs-sequential equivalence for BPE merge induction (the
PPJoin/PageRank contract): on randomized corpora the Spark merge table
must EQUAL the sequential reference's — same pairs, same order, same
frequencies — and the applied tokenization must round-trip the text."""

import random

import pytest

from goconnect_spark.operators.bpe import (
    apply_bpe,
    apply_bpe_replace,
    apply_bpe_replace_sql,
    apply_bpe_wordlevel,
    bpe_merges,
    bpe_merges_py,
    word_freq_table,
)


def _corpus(seed: int, n_docs: int = 40) -> list:
    rng = random.Random(seed)
    # small alphabet + repeated stems so merges are meaningful
    stems = ["spark", "park", "sparse", "apar", "data", "atlas", "lass"]
    docs = []
    for i in range(n_docs):
        words = [rng.choice(stems) + rng.choice(["", "s", "ed"]) for _ in range(rng.randint(3, 12))]
        docs.append((i, " ".join(words)))
    return docs


@pytest.mark.parametrize("seed,n_merges", [(3, 8), (11, 12), (29, 5)])
def test_bpe_merges_match_sequential_reference(spark, seed, n_merges):
    docs = spark.createDataFrame(_corpus(seed), "doc_id: long, text: string")
    got = bpe_merges(docs, n_merges=n_merges, min_freq=2)
    wf = {r.word: r.freq for r in word_freq_table(docs).collect()}
    want = bpe_merges_py(wf, n_merges=n_merges, min_freq=2)
    assert got == want


def test_apply_bpe_tokens_reconstruct_text(spark):
    docs = spark.createDataFrame(_corpus(7), "doc_id: long, text: string")
    merges = bpe_merges(docs, n_merges=10)
    assert merges, "expected at least one merge on a stem-heavy corpus"
    toked = apply_bpe(docs, merges).collect()
    for r in toked:
        # stripping the end-of-word sentinels and joining must rebuild
        # the original text exactly — BPE is a lossless segmentation
        rebuilt = (
            "".join(r.bpe_tokens)
            .replace("</w>", " ")
            .rstrip(" ")
        )
        assert rebuilt == r.text
        # and the learned merges actually compress: fewer symbols than
        # raw chars+sentinels for at least some rows is checked globally
    raw_syms = sum(len(r.text.replace(" ", "")) + len(r.text.split(" ")) for r in toked)
    bpe_syms = sum(len(r.bpe_tokens) for r in toked)
    assert bpe_syms < raw_syms


def test_bpe_merge_is_greedy_left_to_right(spark):
    # "aaa" + merge (a,a) must tokenize as [aa, a</w>-ish], never [a, aa]
    docs = spark.createDataFrame([(0, "aaa aaa aa")], "doc_id: long, text: string")
    merges = bpe_merges(docs, n_merges=1, min_freq=1)
    assert merges[0][:2] == ("a", "a")
    toked = apply_bpe(docs, merges).collect()[0].bpe_tokens
    # words: aaa -> [aa, a, </w>], aaa -> same, aa -> [aa, </w>]
    assert toked == ["aa", "a", "</w>", "aa", "a", "</w>", "aa", "</w>"]


@pytest.mark.parametrize("seed", [5, 17])
def test_apply_bpe_replace_equals_fold(spark, seed):
    # the replace-chain application (the oracle-replayable path) must
    # produce the IDENTICAL token stream as the per-word fold
    docs = spark.createDataFrame(_corpus(seed), "doc_id: long, text: string")
    merges = bpe_merges(docs, n_merges=10)
    # the invariant the whole-document encoding's correctness rests
    # on: a trained pair's FIRST symbol always has a successor inside
    # some word, so it can never contain the word-final sentinel — a
    # merge pattern therefore cannot straddle a word boundary
    assert all("</w>" not in a for a, _, _ in merges), merges
    fold = {r.doc_id: r.bpe_tokens for r in apply_bpe(docs, merges).collect()}
    repl = {
        r.doc_id: r.bpe_tokens for r in apply_bpe_replace(docs, merges).collect()
    }
    assert fold == repl


def test_apply_bpe_replace_non_bmp_and_edge_text(spark):
    # astral-plane text (emoji, rare CJK) must symbolize per CODE
    # POINT on both paths — F.split(w, "") would cut surrogate halves
    # (ADVICE r6); also multi-space runs, leading/trailing spaces,
    # empty docs, and newline-bearing words
    docs = [
        (0, "😀😀a 😀a 𝄞x𝄞x"),
        (1, "  low   low  "),
        (2, ""),
        (3, "a\nb a\nb"),
        (4, "𠀋𠀋𠀋"),
    ]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    merges = bpe_merges(df, n_merges=6, min_freq=2)
    # training must produce whole-code-point symbols only
    for a, b, _ in merges:
        for s in (a, b):
            assert not any(0xD800 <= ord(c) <= 0xDFFF for c in s), (a, b)
    fold = {r.doc_id: r.bpe_tokens for r in apply_bpe(df, merges).collect()}
    repl = {
        r.doc_id: r.bpe_tokens for r in apply_bpe_replace(df, merges).collect()
    }
    assert fold == repl
    assert not any(
        0xD800 <= ord(c) <= 0xDFFF for toks in repl.values() for t in toks for c in t
    )
    # sequential reference agrees on the non-BMP vocab too
    wf = {r.word: r.freq for r in word_freq_table(df).collect()}
    assert merges == bpe_merges_py(wf, n_merges=6, min_freq=2)


def test_apply_bpe_replace_sql_matches_spark(spark):
    # the DuckDB twin of the replace chain produces the same tokens
    import duckdb

    rows = _corpus(13, n_docs=15) + [(100, "😀😀a 😀a"), (101, "  x  y ")]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    merges = bpe_merges(docs, n_merges=8)
    got = {
        r.doc_id: r.bpe_tokens for r in apply_bpe_replace(docs, merges).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    enc_sql = apply_bpe_replace_sql("text", merges)
    import re

    duck = {
        doc_id: [t for t in re.split("[\x01\x02]", e) if t != ""]
        for doc_id, e in con.execute(
            f"SELECT doc_id, {enc_sql} FROM documents"
        ).fetchall()
    }
    assert got == duck


@pytest.mark.parametrize("seed", [5, 11, 17])
def test_apply_bpe_wordlevel_equals_replace_chain(spark, seed):
    # the merge-count-scalable path (distinct words tokenized once by
    # the Arrow tokenizer, word->tokens joined back, positional
    # reassembly) must produce the IDENTICAL per-doc token stream as
    # the whole-document replace chain — on random stem corpora plus
    # every edge shape the replace chain is tested on (multi-space
    # runs, empty docs, non-BMP, newline-bearing words)
    rows = _corpus(seed) + [
        (100, "😀😀a 😀a 𝄞x𝄞x"),
        (101, "  low   low  "),
        (102, ""),
        (103, "a\nb a\nb"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    merges = bpe_merges(docs, n_merges=10)
    repl = {
        r.doc_id: r.bpe_tokens for r in apply_bpe_replace(docs, merges).collect()
    }
    word = {
        r.doc_id: r.bpe_tokens
        for r in apply_bpe_wordlevel(docs, merges).collect()
    }
    # whole-doc chain yields [] for empty text; word-level must agree
    assert word == repl
    assert word[102] == []


def test_apply_bpe_wordlevel_injected_dictionary(spark):
    # the word_tokens injection (pre-materialized word->tokens
    # dictionary, the 100 TB versioned-artifact path) must produce
    # the same result as building the dictionary in-plan
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(_corpus(9), "doc_id: long, text: string")
    merges = bpe_merges(docs, n_merges=8)
    vocab = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("word")
    ).distinct()
    wt = apply_bpe_replace(
        vocab, merges, text_col="word", out_col="toks"
    ).localCheckpoint()
    inline = {
        r.doc_id: r.bpe_tokens for r in apply_bpe_wordlevel(docs, merges).collect()
    }
    injected = {
        r.doc_id: r.bpe_tokens
        for r in apply_bpe_wordlevel(docs, merges, word_tokens=wt).collect()
    }
    assert inline == injected


def _final_plan_shape(df) -> list:
    """`df`'s executed (final adaptive) physical plan, top-down, one
    entry per operator: its name and its expressions, with expression,
    lambda-variable and codegen-stage ids stripped. Expressions are
    read off the operator objects because the plan's text form shows
    an aggregate's computed column only by name."""
    import re

    df.collect()
    ids = r"#\d+L?|(?<=x_)\d+| \(\d+\)"
    shape = []

    def walk(node):
        exprs = node.expressions()
        parts = [exprs.apply(i).toString() for i in range(exprs.size())]
        shape.append(re.sub(ids, "", " ".join([node.nodeName()] + parts)))
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            walk(node.plan())  # a stage is a leaf wrapping its subplan
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan().executedPlan())
    return shape


def test_apply_bpe_wordlevel_plan_is_merge_count_flat(spark):
    # the word-level plan's corpus side (posexplode, vocab distinct,
    # broadcast join, positional reassembly) must not grow with the
    # merge table: the merges only run inside the Arrow tokenizer, on
    # distinct words. A 10x deeper table gives the same operators with
    # the same expressions (a per-merge replace() chain would not).
    from goconnect_spark.queries._bpe_frozen import BPE_MERGES
    from goconnect_spark.queries._bpe_frozen240 import BPE_MERGES_240

    docs = spark.createDataFrame(_corpus(5), "doc_id: long, text: string")
    plan24 = _final_plan_shape(apply_bpe_wordlevel(docs, BPE_MERGES))
    plan240 = _final_plan_shape(apply_bpe_wordlevel(docs, BPE_MERGES_240))
    assert any(op.startswith("ArrowEvalPython") for op in plan24), plan24
    assert plan24 == plan240


@pytest.mark.parametrize("seed", [5, 17])
def test_tokenize_words_py_equals_sql_chain(spark, seed):
    # the Arrow python tokenizer (the 32k-merge scale path) must be
    # byte-identical to the SQL replace chain per distinct word —
    # random stems plus non-BMP/edge words, against BOTH the trained
    # table and the 240-merge bench fixture
    import pyspark.sql.functions as F

    from goconnect_spark.operators.bpe import tokenize_words_py

    docs = spark.createDataFrame(
        _corpus(seed) + [(100, "😀😀a 😀a 𝄞x𝄞x low lower 𠀋𠀋𠀋")],
        "doc_id: long, text: string",
    )
    merges = bpe_merges(docs, n_merges=12)
    vocab = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("word")
    ).distinct()
    sql_t = {
        r.word: r.toks
        for r in apply_bpe_replace(
            vocab, merges, text_col="word", out_col="toks"
        ).collect()
    }
    py_t = {r.word: r.toks for r in tokenize_words_py(vocab, merges).collect()}
    assert py_t == sql_t
    # the 240-merge fixture exercises long rank schedules
    import sys as _sys, os as _os

    _sys.path.insert(0, _os.path.join(_os.path.dirname(__file__), ".."))
    from goconnect_spark.queries._bpe_frozen240 import BPE_MERGES_240

    sql_t = {
        r.word: r.toks
        for r in apply_bpe_replace(
            vocab, BPE_MERGES_240, text_col="word", out_col="toks"
        ).collect()
    }
    py_t = {r.word: r.toks for r in tokenize_words_py(vocab, BPE_MERGES_240).collect()}
    assert py_t == sql_t


def test_tokenize_words_py_at_2400_merges_matches_sequential_chain(spark):
    # at the 2,400-merge catalog table the SQL twin cannot even be
    # BUILT (2,400 nested replace() Column nodes overflow the JVM
    # stack at plan construction — the measured boundary that
    # motivates the Arrow engine), so the engine-equivalence pin at
    # this size runs against a DIRECT sequential application of the
    # chain semantics: every merge in table order, each greedily
    # left-to-right — the definitional loop the rank schedule
    # optimizes
    import sys as _sys, os as _os

    _sys.path.insert(0, _os.path.join(_os.path.dirname(__file__), ".."))
    from goconnect_spark.queries._bpe_frozen2400 import BPE_MERGES_2400

    from goconnect_spark.operators.bpe import tokenize_words_py

    def seq(word):
        syms = list(word) + ["</w>"]
        for a, b, *_ in BPE_MERGES_2400:
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms = out
        return syms

    # words the table's 100x-prefix training vocabulary covers
    # (deep merge cascades), partially-covered stems, unseen words,
    # non-BMP, and a word colliding with merged-symbol spellings
    words = (
        ["r5sparkles", "r42lower", "r99data", "r0atlas", "r7parked"]
        + ["sparkles", "lower", "unseen", "a", "😀a𝄞", "r5", "r5r5"]
    )
    vocab = spark.createDataFrame([(w,) for w in words], "word: string")
    got = {r.word: r.toks for r in tokenize_words_py(vocab, BPE_MERGES_2400).collect()}
    want = {w: seq(w) for w in words}
    assert got == want
    # the deep cascade really fired: a fully-covered word compresses
    assert len(got["r5sparkles"]) < len("r5sparkles") + 1


def test_tokenize_words_py_rank_monotone_on_symbol_collision(spark):
    # adversarial table: merge 3 (ab,c) CREATES the symbol "abc" that
    # merge 1's pattern (x, abc) wants — the chain never revisits a
    # passed merge, so (x, abc) must NOT fire on the late-born "abc".
    # A naive min-rank-iterating tokenizer (the HuggingFace shape)
    # WOULD fire it; this pins the in-order semantics.
    from goconnect_spark.operators.bpe import (
        apply_bpe_replace,
        tokenize_words_py,
    )

    merges = [("a", "b"), ("x", "abc"), ("ab", "c")]
    docs = spark.createDataFrame([(0, "xabc xabc")], "doc_id: long, text: string")
    chain = apply_bpe_replace(docs, merges).collect()[0].bpe_tokens
    vocab = spark.createDataFrame([("xabc",)], "word: string")
    py = tokenize_words_py(vocab, merges).collect()[0].toks
    assert chain == py + py  # two identical words
    # and the collision really is exercised: "abc" exists, yet x stays
    assert "abc" in py and "xabc" not in py


def test_tokenize_engines_agree_on_null_and_empty_words(spark):
    # when called DIRECTLY on a word table containing nulls (outside
    # apply_bpe_wordlevel, whose vocab is null-free), the two
    # tokenizers must agree: NULL word -> NULL toks (the SQL chain
    # propagates null through regexp_replace), '' -> empty sequence
    from goconnect_spark.operators.bpe import tokenize_words_py

    vocab = spark.createDataFrame(
        [("low",), (None,), ("",)], "word: string"
    )
    merges = [("l", "o"), ("lo", "w")]
    sql_t = {
        r.word: r.toks
        for r in apply_bpe_replace(
            vocab, merges, text_col="word", out_col="toks"
        ).collect()
    }
    py_t = {r.word: r.toks for r in tokenize_words_py(vocab, merges).collect()}
    assert py_t == sql_t
    assert sql_t[None] is None
    assert sql_t[""] == []


def test_apply_bpe_wordlevel_stale_dictionary_fails_loudly(spark):
    # an injected dictionary missing a corpus word must RAISE, not
    # silently drop the word from the reassembled stream (the build-
    # once-reuse-everywhere artifact's expected failure mode is
    # staleness)
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [(0, "low low"), (1, "low newword")], "doc_id: long, text: string"
    )
    merges = [("l", "o"), ("lo", "w")]
    stale = apply_bpe_replace(
        spark.createDataFrame([("low",)], "word: string"), merges,
        text_col="word", out_col="toks",
    ).localCheckpoint()
    with pytest.raises(Exception, match="missing from the injected"):
        apply_bpe_wordlevel(docs, merges, word_tokens=stale).collect()
    # a COMPLETE dictionary still works through the same code path
    full = apply_bpe_replace(
        docs.select(
            F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias(
                "word"
            )
        ).distinct(),
        merges,
        text_col="word",
        out_col="toks",
    ).localCheckpoint()
    out = {
        r.doc_id: r.bpe_tokens
        for r in apply_bpe_wordlevel(docs, merges, word_tokens=full).collect()
    }
    assert out[0] == ["low", "</w>", "low", "</w>"]


def test_sql_chain_soft_cap_refuses_large_tables(spark):
    # past ~300-350 nested replaces the JVM overflows its stack while
    # CONVERTING the Column tree (measured on this runtime); the cap
    # turns that opaque crash into a pointed error naming the serving
    # path, which tokenizes the same table fine
    from goconnect_spark.operators.bpe import SQL_CHAIN_MAX_MERGES

    big = [("a", "b")] * (SQL_CHAIN_MAX_MERGES + 1)
    docs = spark.createDataFrame([(0, "ab")], "doc_id: long, text: string")
    with pytest.raises(ValueError, match="apply_bpe_wordlevel"):
        apply_bpe_replace(docs, big)
    out = apply_bpe_wordlevel(docs, big).collect()
    assert out[0].bpe_tokens == ["ab", "</w>"]


def test_assert_no_straddle_raises_value_error():
    # ValueError (not assert) so the guard survives python -O
    from goconnect_spark.operators.bpe import _assert_no_straddle

    with pytest.raises(ValueError, match="straddle"):
        _assert_no_straddle([("a</w>", "b")])
    _assert_no_straddle([("a", "b</w>")])  # second symbol may end a word


def test_apply_bpe_wordlevel_composite_id(spark):
    # reassembly keys on id_cols — a composite key must group exactly
    rows = [(0, "a", "low low"), (0, "b", "lower"), (1, "a", "low")]
    docs = spark.createDataFrame(rows, "src: long, part: string, text: string")
    merges = [("l", "o"), ("lo", "w")]
    out = {
        (r.src, r.part): r.bpe_tokens
        for r in apply_bpe_wordlevel(docs, merges, id_cols=("src", "part")).collect()
    }
    assert out[(0, "a")] == ["low", "</w>", "low", "</w>"]
    assert out[(0, "b")] == ["low", "e", "r", "</w>"]
    assert out[(1, "a")] == ["low", "</w>"]


def test_bpe_on_pathological_corpus(spark):
    # empty docs, 1-char docs, identical docs, a word of one repeated
    # char — the degenerate shapes the randomized differential uses
    docs = [
        (0, ""), (1, "a"), (2, "a"), (3, "aaaaaa"),
        (4, "same same same"), (5, "same same same"),
        (6, "x y z"),
    ]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    got = bpe_merges(df, n_merges=6, min_freq=2)
    wf = {r.word: r.freq for r in word_freq_table(df).collect()}
    assert got == bpe_merges_py(wf, n_merges=6, min_freq=2)


def test_staged_oracle_chain_equals_flat_chain():
    """apply_bpe_replace_sql_staged must be the SAME chain as
    apply_bpe_replace_sql, only syntactically staged — verified by
    running both in DuckDB over edge-shape words (empty, 1-char,
    repeated-char, multi-space, marker-free unicode) with a stage
    size small enough to force many CTE hops."""
    import duckdb

    from goconnect_spark.operators.bpe import (
        apply_bpe_replace_sql,
        apply_bpe_replace_sql_staged,
    )
    from goconnect_spark.queries._bpe_frozen import BPE_MERGES

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE words AS SELECT * FROM (VALUES "
        "(''), ('a'), ('aaaaaa'), ('low lower'), ('x  y'), ('héllo🌍')"
        ") t(word)"
    )
    flat = apply_bpe_replace_sql("word", BPE_MERGES)
    ctes, last = apply_bpe_replace_sql_staged(
        "word", BPE_MERGES, source="words", stage=5
    )
    a = con.execute(f"SELECT word, {flat} AS e FROM words ORDER BY word").fetchall()
    b = con.execute(f"WITH {ctes} SELECT word, e FROM {last} ORDER BY word").fetchall()
    assert a == b


def test_staged_oracle_chain_binds_past_duckdb_limit():
    """The staged form binds and runs at 240 merges — the load-bearing
    half of the round-10 oracle-depth contract. The flat chain's
    binder refusal (128 nested calls on this runtime) documents WHY
    staging exists, but is this DuckDB build's limit, not ours: if a
    future DuckDB binds the flat chain, that's a relaxation, not a
    regression — warn and move on rather than fail."""
    import warnings

    import duckdb

    from goconnect_spark.operators.bpe import (
        apply_bpe_replace_sql,
        apply_bpe_replace_sql_staged,
    )
    from goconnect_spark.queries._bpe_frozen240 import BPE_MERGES_240

    con = duckdb.connect()
    con.execute("CREATE TABLE words AS SELECT 'lower' AS word")
    flat = apply_bpe_replace_sql("word", BPE_MERGES_240)
    try:
        con.execute(f"SELECT {flat} FROM words")
    except duckdb.BinderException:
        pass  # the boundary that motivated staging, as measured in r10
    else:
        warnings.warn(
            "DuckDB now binds a 240-deep flat replace chain — its binder "
            "limit was raised; staging is no longer strictly required at 240"
        )
    ctes, last = apply_bpe_replace_sql_staged("word", BPE_MERGES_240, source="words")
    (enc,) = con.execute(f"WITH {ctes} SELECT e FROM {last}").fetchone()
    assert enc  # non-empty encoded stream; depth certified by the catalog oracle


def test_stage_size_plus_catalog_wrapper_binds():
    """Pins DUCKDB_STAGE_MERGES' headroom claim: one full stage (100
    nested replaces) with the ACTUAL catalog consumer wrapper
    (md5/array_to_string/list_filter/string_split_regex, the
    _bpe_vocab_deep_sql expression) inlined DIRECTLY around the stage
    expression still binds — so even a consumer that composes onto the
    chain instead of selecting from the CTE column stays under the
    binder limit."""
    import duckdb

    from goconnect_spark.operators.bpe import (
        DUCKDB_STAGE_MERGES,
        apply_bpe_replace_sql,
    )
    from goconnect_spark.queries._bpe_frozen240 import BPE_MERGES_240

    merges = BPE_MERGES_240[:DUCKDB_STAGE_MERGES]
    assert len(merges) == DUCKDB_STAGE_MERGES
    chain = apply_bpe_replace_sql("word", merges)
    wrapped = (
        "md5(array_to_string(list_filter(string_split_regex("
        f"{chain}, chr(1) || '|' || chr(2)), x -> x <> ''), chr(31)))"
    )
    con = duckdb.connect()
    (h,) = con.execute(f"SELECT {wrapped} FROM (SELECT 'lower' AS word)").fetchone()
    assert h and len(h) == 32
