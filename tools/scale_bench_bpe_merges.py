"""BPE merge-count scaling measurement.

The replace-chain application is O(n_merges) full-document string
passes — fine at the frozen 24 merges, a scale-killer at a production
32k-merge vocab. The word-level path (distinct words tokenized once,
tokens joined back / counts freq-weighted) makes the CORPUS-side plan
independent of merge count. This bench measures exactly that axis: the
same corpus tokenized with the 24-merge catalog table, a 240-merge
table (queries/_bpe_frozen240.py, trained by the same distributed
trainer on sf0.1) and optionally a 2,400-merge table
(queries/_bpe_frozen2400.py, built by tools/build_bpe_merges_2400.py),
under three plans:

End-to-end plans:
- replace_chain: whole-document replace chain (`apply_bpe_replace`)
  over every doc, then token counts. Expected: wall grows roughly
  linearly with merge count (10x merges -> several-x wall).
- wordlevel_count: the bpe_tokenize_corpus plan — corpus reduces once
  to (word, freq); only DISTINCT words run the chain; counts are
  freq-weighted sums.
- wordlevel_docs: the serving path (bpe_doc_tokens /
  apply_bpe_wordlevel) — the Arrow tokenizer on the distinct words,
  then posexplode + broadcast join + positional reassembly producing
  per-doc token arrays.

Staged measurements, separating the two cost terms the end-to-end
numbers mix (this synthetic corpus is vocab-heavy — replica prefixes
make every word unique per replica, so the vocab-side chain is a FAR
larger corpus fraction than any Zipf-distributed real corpus):
- vocab_chain / vocab_chain_py: tokenize the distinct-word table
  alone, with the replace chain / the Arrow tokenizer
  `tokenize_words_py`. Grows with merge count BY DESIGN — it is the
  vocab-sized term, and at 100 TB it is a once-per-tokenizer-release
  artifact build (word_tokens injection on apply_bpe_wordlevel), not
  per-run work.
- corpus_count_given_vocab / corpus_docs_given_vocab: the CORPUS-side
  plans with the word->tokens dictionary pre-materialized. These are
  the merge-count-flat claims: identical join/reassembly work at 24
  and 240 merges.

The replace chain refuses tables above SQL_CHAIN_MAX_MERGES (300): a
deeper chain overflows the JVM stack at plan construction, so every
replace-chain plan at 2,400 merges emits an `error` record, and the
Arrow plans are measured alongside. Failures are caught per plan and
emitted as JSON, never crashes; replace_chain is skipped above 240
merges (O(n_merges) full-document passes — minutes of wall to
re-prove the point the 240 row already makes).

The docs dimension (multiplier m: m replicas of the sf0.1 documents,
each word prefixed per replica) is measured alongside so the table
shows BOTH axes. Record results in SCALING.md.

Run: python tools/scale_bench_bpe_merges.py [multipliers...]
         [--tables 24,240,2400]
     (defaults: multipliers 1 10, tables 24,240)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

BASE = "/root/testdata/sf0.1"


def synthesize(spark, m: int, out_dir: str) -> None:
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    reps = spark.range(m).select(F.col("id").cast("int").alias("k"))
    (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("k").cast("long") * 10_000_000).alias("doc_id"),  # widen k: int32 overflows at m >= 215
            F.array_join(
                F.expr("transform(split(text, ' '), w -> concat('r', k, w))"), " "
            ).alias("text"),
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/documents.parquet")
    )


def token_counts_replace_chain(docs, merges):
    from goconnect_spark.operators.bpe import apply_bpe_replace

    toked = apply_bpe_replace(docs, merges)
    return (
        toked.select(F.explode("bpe_tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def token_counts_wordlevel(docs, merges):
    from goconnect_spark.operators.bpe import apply_bpe_replace, word_freq_table

    wt = apply_bpe_replace(
        word_freq_table(docs), merges, text_col="word", out_col="toks"
    )
    # explode_outer: see bpe_tokenize_corpus — plain explode's inferred
    # size(toks)>0 filter pushes the whole chain below the aggregate
    return (
        wt.select(F.explode_outer("toks").alias("token"), "freq")
        .where(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.sum("freq").cast("long").alias("n"))
    )


def doc_tokens_wordlevel(docs, merges):
    from goconnect_spark.operators.bpe import apply_bpe_wordlevel

    toked = apply_bpe_wordlevel(docs, merges)
    # the filter REFERENCES the token column: without it, count() lets
    # Catalyst eliminate the (provably unique-keyed, unreferenced)
    # reassembly join entirely and the measurement times only the scan
    return toked.select(
        "doc_id", F.size("bpe_tokens").cast("long").alias("n_bpe_tokens")
    ).where(F.col("n_bpe_tokens") >= 0)


PLANS = {
    "replace_chain": token_counts_replace_chain,
    "wordlevel_count": token_counts_wordlevel,
    "wordlevel_docs": doc_tokens_wordlevel,
}


def main():
    args = sys.argv[1:]
    table_keys = [24, 240]
    if "--tables" in args:
        i = args.index("--tables")
        if i + 1 >= len(args):
            raise SystemExit("--tables needs a value, e.g. --tables 24,240,2400")
        table_keys = [int(t) for t in args[i + 1].split(",")]
        del args[i:i + 2]
    mults = [int(a) for a in args] or [1, 10]
    from goconnect_spark.operators.bpe import (
        apply_bpe_replace,
        apply_bpe_wordlevel,
        tokenize_words_py,
        word_freq_table,
    )
    from goconnect_spark.queries._bpe_frozen import BPE_MERGES
    from goconnect_spark.session import get_spark

    all_tables = {24: lambda: BPE_MERGES}

    def _t240():
        from goconnect_spark.queries._bpe_frozen240 import BPE_MERGES_240

        return BPE_MERGES_240

    def _t2400():
        from goconnect_spark.queries._bpe_frozen2400 import BPE_MERGES_2400

        return BPE_MERGES_2400

    all_tables[240] = _t240
    all_tables[2400] = _t2400
    tables = {k: all_tables[k]() for k in table_keys}
    spark = get_spark("bpe-merge-scale")
    spark.sparkContext.setLogLevel("ERROR")

    def emit(plan, n_merges, m, n_docs, rows, t0, error=None):
        rec = {
            "plan": plan,
            "n_merges": n_merges,
            "multiplier": m,
            "docs": n_docs,
            "rows": rows,
            "sec": round(time.time() - t0, 2),
        }
        if error:
            rec["error"] = error
        print(json.dumps(rec), flush=True)

    def timed(plan, n_merges, m, n_docs, thunk):
        """Run one measurement; a plan that cannot even be BUILT at
        this table size (the 2,400-merge SQL chain overflows the JVM
        stack in Column-node conversion) is a RESULT, not a crash —
        emit the error record and keep measuring the other plans."""
        t0 = time.time()
        try:
            rows = thunk()
        except Exception as e:  # noqa: BLE001 — recorded, not hidden
            cause = type(e).__name__
            msg = str(e)
            if "StackOverflowError" in msg:
                cause = "java.lang.StackOverflowError (plan construction)"
            elif isinstance(e, ValueError):
                # SQL_CHAIN_MAX_MERGES refusing the chain — the
                # guarded form of the same boundary
                cause = f"ValueError: {msg[:100]}"
            emit(plan, n_merges, m, n_docs, None, t0, error=cause)
            return None
        emit(plan, n_merges, m, n_docs, rows, t0)
        return rows

    for m in mults:
        work = tempfile.mkdtemp(prefix=f"bpe_scale_m{m}_")
        try:
            synthesize(spark, m, work)
            docs = spark.read.parquet(f"{work}/documents.parquet")
            docs = docs.localCheckpoint()  # isolate plan cost from synth cost
            n_docs = docs.count()
            for n_merges, merges in tables.items():
                for plan, fn in PLANS.items():
                    if plan == "replace_chain" and n_merges > 240:
                        # O(n_merges) full-document passes: minutes of
                        # wall to re-prove what the 240 row shows
                        emit(plan, n_merges, m, n_docs, None, time.time(),
                             error="skipped (O(n_merges) doc passes)")
                        continue
                    timed(plan, n_merges, m, n_docs,
                          lambda fn=fn: fn(docs, merges).count())
                # staged: materialize the word->tokens dictionary, then
                # time the corpus-side plans with zero per-merge work
                vocab = (
                    docs.select(
                        F.explode(
                            F.filter(F.split("text", " "), lambda w: w != "")
                        ).alias("word")
                    ).distinct()
                )
                wt_holder = {}

                def _build_sql_dict():
                    wt = apply_bpe_replace(
                        vocab, merges, text_col="word", out_col="toks"
                    ).localCheckpoint()
                    wt_holder["wt"] = wt
                    return wt.count()

                timed("vocab_chain", n_merges, m, n_docs, _build_sql_dict)
                # the Arrow tokenizer apply_bpe_wordlevel serves with:
                # per-word cost O(applied merges), independent of
                # TABLE size — the 32k-merge path
                py_ok = timed(
                    "vocab_chain_py", n_merges, m, n_docs,
                    lambda: tokenize_words_py(vocab, merges)
                    .select(F.explode_outer("toks"))
                    .count(),
                )
                if "wt" not in wt_holder and py_ok is not None:
                    # the replace chain could not build a dictionary at
                    # this table size; the corpus-side stages below
                    # take either dictionary, so feed them the Arrow one —
                    # built OUTSIDE the timed region, so every
                    # vocab_chain_py cell times tokenize+count only and
                    # the merge-count axis stays cross-size comparable
                    wt_holder["wt"] = tokenize_words_py(
                        vocab, merges
                    ).localCheckpoint()
                wt = wt_holder.get("wt")
                if wt is None:
                    continue  # both dictionary builds failed
                timed(
                    "corpus_count_given_vocab", n_merges, m, n_docs,
                    lambda: (
                        word_freq_table(docs)
                        .join(wt, "word")
                        .select(F.explode("toks").alias("token"), "freq")
                        .groupBy("token")
                        .agg(F.sum("freq").cast("long").alias("n"))
                        .count()
                    ),
                )
                timed(
                    "corpus_docs_given_vocab", n_merges, m, n_docs,
                    lambda: (
                        apply_bpe_wordlevel(docs, merges, word_tokens=wt)
                        .select(
                            "doc_id",
                            F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
                        )
                        .where(F.col("n_bpe_tokens") >= 0)
                        .count()
                    ),
                )
        finally:
            shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
