"""IVF-PQ residual index (r15): ``operators.similarity.
ivfpq_residual_codes`` / ``ivfpq_adc_topk`` — the FAISS IndexIVFPQ
composition (coarse routing + product quantization of the residuals).

The driver rows (``sim_ivfpq_codes`` / ``sim_ivfpq_adc_search``) prove
oracle parity; these tests prove the operator semantics independently:
the ADC search equals a plain-Python replay with CELL-DEPENDENT query
LUTs (the defining IVF-PQ subtlety), candidates never leave the routed
cell at probe=1, and probe=2 widens the candidate pool monotonically —
on IVF-PQ and on the label-cell IVF path (``ivf_topk``) alike.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from gisaid_pipeline_functions_spark.operators.similarity import (
    ivf_topk,
    ivfpq_adc_topk,
    ivfpq_residual_codes,
)


def _d2(a, b):
    return round(math.fsum((x - y) * (x - y) for x, y in zip(a, b)), 6)


def _python_state(spark, sf_dir):
    """Collect codes + recomputed residual codebooks once per module."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }
    codes = ivfpq_residual_codes(emb, k_coarse=4, m=2, sub_dim=32,
                                 k_pq=4, iterations=2)
    rows = codes.collect()
    cell_of = {r["vec_id"]: r["cell"] for r in rows}
    code_of: dict[int, dict[int, int]] = {}
    for r in rows:
        code_of.setdefault(r["vec_id"], {})[r["subspace"]] = r["pq_cell"]
    return emb, vecs, cell_of, code_of


def test_adc_search_matches_python_replay(spark, sf_dir):
    emb, vecs, cell_of, code_of = _python_state(spark, sf_dir)
    from gisaid_pipeline_functions_spark.operators.similarity import (
        kmeans_centroids,
    )

    coarse = {
        r["cell"]: list(r["c"])
        for r in kmeans_centroids(emb, k=4, iterations=2).collect()
    }
    res = {
        i: [x - y for x, y in zip(vecs[i], coarse[cell_of[i]])]
        for i in vecs
    }
    # recomputed residual codebooks: 6dp means of the final assignment
    cents: dict[tuple[int, int], list[float]] = {}
    for j in (0, 1):
        members: dict[int, list[list[float]]] = {}
        for i, r in res.items():
            members.setdefault(code_of[i][j], []).append(
                r[j * 32 : (j + 1) * 32]
            )
        for cl, ms in members.items():
            cents[(j, cl)] = [
                round(math.fsum(col) / len(ms), 6) for col in zip(*ms)
            ]

    got = [
        (r["query_id"], r["cand_id"], r["cell"], r["adc"], r["rank"])
        for r in ivfpq_adc_topk(
            emb, emb.filter(F.col("vec_id") < 5),
            k_coarse=4, m=2, sub_dim=32, k_pq=4, iterations=2,
            topk=3, probe=1,
        ).collect()
    ]

    expected = []
    for qid in range(5):
        qv = vecs[qid]
        routed = min(
            coarse, key=lambda cl: (_d2(qv, coarse[cl]), cl)
        )
        qres = [x - y for x, y in zip(qv, coarse[routed])]
        lut = {
            (j, cl): round(
                _d2(qres[j * 32 : (j + 1) * 32], cents[(j, cl)]), 6
            )
            for (j, cl) in cents
        }
        cands = sorted(
            (
                (
                    round(
                        lut[(0, code_of[v][0])] + lut[(1, code_of[v][1])],
                        6,
                    ),
                    v,
                )
                for v, cl in cell_of.items()
                if cl == routed and v != qid
            ),
            key=lambda t: (t[0], t[1]),
        )[:3]
        expected += [
            (qid, v, routed, a, i + 1) for i, (a, v) in enumerate(cands)
        ]
    assert sorted(got) == sorted(expected)


def test_probe2_is_superset_of_probe1_candidates(spark, sf_dir):
    """probe=2 candidates span two cells per query and the probe=1
    top-k ADC values can only improve or hold (a wider pool can't push
    the best distances up)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    one = {
        (r["query_id"], r["rank"]): r["adc"]
        for r in ivfpq_adc_topk(emb, q, topk=3, probe=1).collect()
    }
    two = {
        (r["query_id"], r["rank"]): r["adc"]
        for r in ivfpq_adc_topk(emb, q, topk=3, probe=2).collect()
    }
    assert set(one) == set(two)
    for k in one:
        assert two[k] <= one[k]


def test_ivf_label_probe2_is_superset_of_probe1_candidates(spark, sf_dir):
    """The label-cell IVF path's ``probes`` knob: with k wide enough to
    return every probed member, each query's probes=2 candidates strictly
    contain its probes=1 candidates, and its ranks are dense 1..n."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    n = emb.count()

    def ranked(probes):
        out: dict[int, dict[int, int]] = {}
        for r in ivf_topk(emb, q, k=n, probes=probes).collect():
            out.setdefault(r["query_id"], {})[r["cand_id"]] = r["rank"]
        return out

    one, two = ranked(1), ranked(2)
    assert set(one) == set(two) == set(range(5))
    for qid in one:
        assert set(one[qid]) < set(two[qid])
        for ranks in (one[qid], two[qid]):
            assert sorted(ranks.values()) == list(range(1, len(ranks) + 1))


def test_every_vector_coded_once_per_subspace(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    codes = ivfpq_residual_codes(emb)
    assert codes.count() == 2 * n
    assert (
        codes.groupBy("vec_id", "subspace").count()
        .filter(F.col("count") > 1).count() == 0
    )
