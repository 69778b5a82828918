"""Generate the static fitted-centroid table for the ``semantic_dedup``
driver oracle (round-7 rotation; VERDICT r6 item 5).

The k-means fit is bit-deterministic by construction (fixed md5 seed
selection + fixed-point decimal partial sums — partition-layout
independent, see operators/clustering.py module docstring), so a fixed
(seed, k, iters) fit over a fixed sf dir always yields the same centroid
matrix. That lets the driver's static-SQL oracle contract hold for a
fitted-model query: fit once here, check the centroids in as data, and
render the post-fit DuckDB twin (``semantic_dedup_pairs_sql``) from them
at import time. Drift is impossible without a code change, and a code
change that moves the fit fails the exact-equality guard in
tests/test_clustering.py before it can reach the driver.

Run: ``python tools/gen_semantic_oracle.py`` (rewrites
``wnba_data_pipeline_spark/operators/_semantic_centroids.py``).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from wnba_data_pipeline_spark.operators.clustering import kmeans_fit  # noqa: E402
from wnba_data_pipeline_spark.operators.similarity import _augmented_corpus  # noqa: E402
from wnba_data_pipeline_spark.session import ensure_confs, get_spark  # noqa: E402

SF_DIRS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
OUT = REPO / "wnba_data_pipeline_spark" / "operators" / "_semantic_centroids.py"

HEADER = '''"""GENERATED by tools/gen_semantic_oracle.py — do not edit by hand.

Fitted k-means centroids (k=SD_K, max_iter=SD_ITERS, md5-seeded) over the
augmented embeddings corpus at each test scale. The fit is bit-deterministic
(fixed-point decimal partial sums, partition-independent), so these literals
are a faithful static snapshot of what ``q_semantic_dedup`` recomputes at
runtime on the same sf dir; tests/test_clustering.py asserts exact equality
per run, and the driver's ``semantic_dedup`` oracle SQL is rendered from the
sf0.01 entry (float repr round-trips exactly through SQL literals).
"""

CENTROIDS_BY_SF = '''


def main() -> None:
    spark = get_spark(Path(__file__).stem)
    ensure_confs(spark)
    out = {}
    for sf_dir in SF_DIRS:
        model = kmeans_fit(_augmented_corpus(spark, sf_dir))
        out[os.path.basename(sf_dir)] = model.centroids
        print(f"{sf_dir}: n_iter={model.n_iter} converged={model.converged} "
              f"sizes={model.sizes}")
    body = "{\n"
    for sf, cents in out.items():
        body += f"    {sf!r}: [\n"
        for c in cents:
            body += f"        {c!r},\n"
        body += "    ],\n"
    body += "}\n"
    OUT.write_text(HEADER + body)
    print(f"wrote {OUT} ({OUT.stat().st_size} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
