"""One-time IVF coarse-quantizer build (the offline index-build step).

Trains MLlib k-means (k=8, seed=42) on the embeddings table and prints
the centroid table as quantized-integer Python literals (floor(c*1e4),
the same fixed-point scheme the similarity queries use for exact
cross-engine dot products). The output is pasted into
goconnect_spark/queries/similarity.py as _IVF_CENTROIDS_Q — after
freezing, the search path is fully deterministic and oracle-checkable;
only this fit stays outside the oracle (VERDICT r1 item 5).

Run: python tools/build_ivf_centroids.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from goconnect_spark.queries.similarity import train_ivf_centroids
    from goconnect_spark.session import get_spark

    spark = get_spark("ivf-build")
    spark.sparkContext.setLogLevel("ERROR")
    centroids = train_ivf_centroids(spark, sf_dir)
    print(f"# k-means centroids, trained on {sf_dir} (k=8, seed=42, maxIter=10), floor(c*1e4)")
    print("_IVF_CENTROIDS_Q = [")
    for _, qs in centroids:
        print("    [" + ", ".join(str(q) for q in qs) + "],")
    print("]")


if __name__ == "__main__":
    main()
