"""Build the released embedding-model artifacts (run once; committed —
the BPE-artifact pattern, tools/build_bpe_artifact.py, extended to the
embedding models):

1. ``youtube_etl_project_spark/functions/ivf_centroids_v1.json`` — the
   k=8 IVF coarse quantizer over the sf0.01 embeddings.
2. ``youtube_etl_project_spark/functions/pq_codebooks_v1.json`` — the
   m=8 × k=16 PQ codebooks over the sf0.01 embeddings.
3. ``youtube_etl_project_spark/functions/ridge_weights_v1.json`` — the
   closed-form ridge weights of the label on the sf0.01 embeddings.

Each trains once via the repo's deterministic trainers. Re-run only on a
deliberate model-version bump; training is deterministic, so a re-run
over unchanged fixtures is a no-op diff.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from youtube_etl_project_spark.operators import similarity  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FN_DIR = os.path.join(REPO, "youtube_etl_project_spark", "functions")
IVF_MODEL = os.path.join(FN_DIR, "ivf_centroids_v1.json")


def build_ivf() -> None:
    """k=8 IVF coarse quantizer trained once on the sf0.01 embeddings
    (same deterministic kmeans the runtime flagship trains per-call).
    No golden fixture needed: the centroids embed as integer literals in
    the embed_ivf_ann_v1 oracle, where assignment, probe selection and
    ranking are all exact bigint arithmetic."""
    from youtube_etl_project_spark.session import get_spark
    from youtube_etl_project_spark.sources import load_table

    spark = get_spark("build_ivf_artifact")
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cents = similarity.kmeans_centroids(
        emb, vec="embedding", k=8, iters=2, id_col="vec_id"
    )
    with open(IVF_MODEL, "w") as f:
        json.dump({"centroids": cents}, f)
    print(f"wrote {len(cents)} IVF centroids -> {IVF_MODEL}")


PQ_MODEL = os.path.join(FN_DIR, "pq_codebooks_v1.json")
RIDGE_MODEL = os.path.join(FN_DIR, "ridge_weights_v1.json")


def build_pq() -> None:
    """m=8 × k=16 PQ codebooks trained once on the sf0.01 embeddings via
    the repo's deterministic pq_train. embed_pq_rerank_v1 embeds them as
    1e6-grid integer literals; encoding (per-subspace squared-L2 argmin)
    is then exact bigint arithmetic in both engines."""
    from youtube_etl_project_spark.operators import quantization
    from youtube_etl_project_spark.session import get_spark
    from youtube_etl_project_spark.sources import load_table

    spark = get_spark("build_pq_artifact")
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cb = quantization.pq_train(emb, m=8, dim=64, k=16, iters=2)
    with open(PQ_MODEL, "w") as f:
        json.dump({"codebooks": cb.tolist()}, f)
    print(f"wrote PQ codebooks {cb.shape} -> {PQ_MODEL}")


def build_ridge() -> None:
    """Released quality-scorer weights: the closed-form ridge fit of the
    label on the embedding (sf0.01, lam=1.0). embed_ridge_score_v1
    applies them as 1e6-grid integer literals — scoring becomes an exact
    bigint dot product."""
    from youtube_etl_project_spark.operators import linear
    from youtube_etl_project_spark.session import get_spark
    from youtube_etl_project_spark.sources import load_table

    import pyspark.sql.functions as F

    spark = get_spark("build_ridge_artifact")
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "embedding", F.col("label").cast("double").alias("y")
    )
    w = linear.ridge_fit(emb, "embedding", "y", lam=1.0)
    with open(RIDGE_MODEL, "w") as f:
        json.dump({"weights": w}, f)
    print(f"wrote {len(w)} ridge weights -> {RIDGE_MODEL}")


if __name__ == "__main__":
    build_ivf()
    build_pq()
    build_ridge()
