"""Offline build of the 2,400-merge BPE table
(goconnect_spark/queries/_bpe_frozen2400.py), the deepest table the
catalog query `bpe_vocab_deep_tokens` certifies the Arrow tokenizer
against the DuckDB replace chain at.

Corpus: the sf0.1 documents table (read from
goconnect_spark.tables.DEFAULT_SF_DIR) replicated 100 times, every
word of replica k prefixed with `r<k>` (`synthesize`). Plain sf0.1 merges out
at 107 pairs and the 10x synthesis behind the 240-merge table at 427,
so 2,400 merges need the wider ~3,100-word vocabulary. A table
trained on a wider vocabulary than the corpus it tokenizes is the
production shape: most of a 32k table applies to no single word.

Trainer: the sequential reference `bpe_merges_py` over the corpus's
(word, freq) table. It is the same algorithm as the distributed
trainer (same symbolization, greedy merge and total-order tie-break),
and tests/test_bpe_property.py pins the two byte-equal. At 2,400
iterations the distributed loop would be ~2,400 one-row argmax jobs;
the reduction to (word, freq) stays the distributed step.

Usage: python tools/build_bpe_merges_2400.py
Rewrites goconnect_spark/queries/_bpe_frozen2400.py.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                   "goconnect_spark", "queries", "_bpe_frozen2400.py")
N_MERGES = 2400
REPLICAS = 100


def synthesize(spark, m: int):
    """m replicas of the sf0.1 documents; replica k gets disjoint doc
    ids and every word prefixed with `r<k>`."""
    from goconnect_spark.tables import DEFAULT_SF_DIR

    docs = spark.read.parquet(f"{DEFAULT_SF_DIR}/documents.parquet")
    reps = spark.range(m).select(F.col("id").cast("int").alias("k"))
    return docs.crossJoin(reps).select(
        # widen k: int32 overflows at m >= 215
        (F.col("doc_id") + F.col("k").cast("long") * 10_000_000).alias("doc_id"),
        F.array_join(
            F.expr("transform(split(text, ' '), w -> concat('r', k, w))"), " "
        ).alias("text"),
    )


def main():
    from goconnect_spark.operators.bpe import bpe_merges_py, word_freq_table
    from goconnect_spark.session import get_spark

    spark = get_spark("bpe-2400-build")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # the only corpus-sized pass — distributed, like production
        wf = {r.word: r.freq
              for r in word_freq_table(synthesize(spark, REPLICAS)).collect()}
    finally:
        spark.stop()
    print(f"vocab: {len(wf)} distinct words", flush=True)
    merges = bpe_merges_py(wf, n_merges=N_MERGES, min_freq=2)
    bad = [(a, b) for a, b, _ in merges if "</w>" in a]
    assert not bad, f"boundary invariant violated: {bad}"
    rows = "\n".join(f"    ({a!r}, {b!r}, {pf})," for a, b, pf in merges)
    body = f'''"""A {len(merges)}-merge BPE table: the deepest of the two tables the
catalog query `bpe_vocab_deep_tokens` and its DuckDB oracle tokenize
the documents vocabulary with (queries/text2.py; the 24-merge
queries/_bpe_frozen.py stays the corpus-level table). Trained by
tools/build_bpe_merges_2400.py: the sequential reference trainer
`bpe_merges_py` (property-pinned byte-identical to the distributed
trainer operators/bpe.bpe_merges) on the (word, freq) table of the
{REPLICAS}x replica-prefixed synthesis of the sf0.1 documents,
n_merges={N_MERGES} requested, min_freq=2 ({len(merges)} yielded).
DO NOT EDIT BY HAND; rerun the builder to change."""

BPE_MERGES_2400 = [
{rows}
]
'''
    with open(OUT, "w") as f:
        f.write(body)
    print(f"wrote {len(merges)} merges -> {OUT}")


if __name__ == "__main__":
    main()
