"""Generate the static fitted-codebook table for the ``pq_rerank`` driver
oracle (round-7 sixth rotation; VERDICT r6 'What's missing' item 1 named
the PQ family as sharing the fitted-model gap semantic_dedup closed).

Same argument as tools/gen_semantic_oracle.py: each sub-quantizer is a
``kmeans_fit`` (md5-seeded, fixed-point partial sums — bit-deterministic
and partition-independent), so a fixed sf dir always yields the same
codebooks; snapshot them as data and render ``pq_rerank_sql`` from the
literals at import time. tests/test_pq.py pins fit == literals exactly.

Run: ``python tools/gen_pq_oracle.py`` (rewrites
``wnba_data_pipeline_spark/operators/_pq_codebooks.py``).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from wnba_data_pipeline_spark.operators.pq import ivfpq_fit, pq_fit  # noqa: E402
from wnba_data_pipeline_spark.session import ensure_confs, get_spark  # noqa: E402
from wnba_data_pipeline_spark.sources.tables import load_table  # noqa: E402

SF_DIRS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
OUT = REPO / "wnba_data_pipeline_spark" / "operators" / "_pq_codebooks.py"
OUT_COARSE = REPO / "wnba_data_pipeline_spark" / "operators" / "_ivfpq_coarse.py"
OUT_RESIDUAL = REPO / "wnba_data_pipeline_spark" / "operators" / "_ivfpq_residual.py"

COARSE_HEADER = '''"""GENERATED by tools/gen_pq_oracle.py — do not edit by hand.

Fitted IVF-PQ coarse-quantizer centroids (k=IVFPQ_COARSE_K, seed_tag
"ivfc", md5-seeded Lloyd fit, farthest-point init — the round-10
``ivfpq_fit`` DEFAULT) over the embeddings table at each test scale —
the inverted-list partitioner half of ``oracle_ivfpq`` (the residual PQ
sub-codebooks half lives in ``_ivfpq_residual.py``). Same
bit-determinism contract; tests/test_pq.py asserts fit == literals
exactly.
"""

COARSE_BY_SF = '''

RESIDUAL_HEADER = '''"""GENERATED by tools/gen_pq_oracle.py — do not edit by hand.

Fitted RESIDUAL PQ sub-codebooks for the default IVF-PQ index
(``ivfpq_fit`` round-10 defaults: by_residual=True,
coarse_init="farthest") — each sub-quantizer trained on
``embedding - coarse[cell]`` with the farthest-init coarse centroids in
``_ivfpq_coarse.py``. Same bit-determinism contract as
``_pq_codebooks.py`` (which keeps the RAW-vector codebooks for the flat
``pq_rerank`` family); tests/test_pq.py asserts fit == literals exactly.
"""

'''

RESIDUAL_PREAMBLE = "RESIDUAL_CODEBOOKS_BY_SF = "

HEADER = '''"""GENERATED by tools/gen_pq_oracle.py — do not edit by hand.

Fitted PQ sub-codebooks (m=PQ_M subspaces x ksub=PQ_KSUB codewords,
md5-seeded Lloyd fits) over the embeddings table at each test scale. Each
sub-fit inherits kmeans_fit's bit-determinism (fixed-point partial sums,
partition-independent), so these literals are a faithful static snapshot
of what ``q_pq_rerank`` refits at runtime on the same sf dir;
tests/test_pq.py asserts exact equality per run, and the driver's
``pq_rerank`` oracle SQL renders from the sf0.01 entry.
"""

CODEBOOKS_BY_SF = '''


def _codebook_body(by_sf: dict) -> str:
    body = "{\n"
    for sf, books in by_sf.items():
        body += f"    {sf!r}: [\n"
        for cb in books:
            body += "        [\n"
            for w in cb:
                body += f"            {w!r},\n"
            body += "        ],\n"
        body += "    ],\n"
    body += "}\n"
    return body


def main() -> None:
    spark = get_spark(Path(__file__).stem)
    ensure_confs(spark)
    out = {}
    coarse_out = {}
    residual_out = {}
    n_out = {}
    for sf_dir in SF_DIRS:
        emb = load_table(spark, sf_dir, "embeddings")
        model = pq_fit(emb)  # RAW codebooks — the flat pq_rerank oracle
        out[os.path.basename(sf_dir)] = model.codebooks
        # the default IVF-PQ index (round 10: by_residual=True,
        # coarse_init="farthest") — one fit supplies both fixture halves
        index = ivfpq_fit(emb)
        coarse_out[os.path.basename(sf_dir)] = index.coarse
        residual_out[os.path.basename(sf_dir)] = index.pq.codebooks
        n_out[os.path.basename(sf_dir)] = index.n_vectors
        print(f"{sf_dir}: m={model.m} dsub={model.dsub} "
              f"iters={[s.n_iter for s in model.sub_models]} "
              f"residual_iters={[s.n_iter for s in index.pq.sub_models]}")
    OUT.write_text(HEADER + _codebook_body(out))
    print(f"wrote {OUT} ({OUT.stat().st_size} bytes)")
    cbody = "{\n"
    for sf, cents in coarse_out.items():
        cbody += f"    {sf!r}: [\n"
        for c in cents:
            cbody += f"        {c!r},\n"
        cbody += "    ],\n"
    cbody += "}\n"
    OUT_COARSE.write_text(COARSE_HEADER + cbody)
    print(f"wrote {OUT_COARSE} ({OUT_COARSE.stat().st_size} bytes)")
    OUT_RESIDUAL.write_text(
        RESIDUAL_HEADER
        + RESIDUAL_PREAMBLE
        + _codebook_body(residual_out)
        + f"\n# fit-corpus sizes (IVFPQIndex.n_vectors — the auto-rerank statistic)\nIVFPQ_N_BY_SF = {n_out!r}\n"
    )
    print(f"wrote {OUT_RESIDUAL} ({OUT_RESIDUAL.stat().st_size} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
