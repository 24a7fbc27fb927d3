"""k-means / SemDeDup / trained-IVF: NumPy-reference parity + plan gates.

The SQL-oracle parity for q115-q117 lives in test_oracle_parity /
test_driver_hash (parametrized over the catalog). These tests pin the
ALGORITHM against an independent NumPy re-implementation and the plan
shape against the 100 TB contract (no vector shuffle in the E-step,
equi-join-only pairwise verify).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tickerlake_spark.operators.clustering import (
    assign_cells,
    kmeans_fit,
    semantic_dedup_flags,
)
from tickerlake_spark.plans.catalog import load_table


def _round_half_up(x: np.ndarray, n: int) -> np.ndarray:
    """stable_round's twin: round(x + 5*10^-(n+3), n) with HALF_UP via
    floor(v*10^n + 0.5) — valid for the non-negative-or-far-from-boundary
    values the nudge guarantees."""
    shifted = (x + 5.0 * 10 ** -(n + 3)) * 10**n
    return np.floor(shifted + 0.5) / 10**n


def _numpy_kmeans(vecs: np.ndarray, ids: np.ndarray, k: int, iters: int):
    """Independent Lloyd's implementation with the same determinism contract:
    init = k lowest ids, argmin squared-L2 w/ index tie-break, 6dp-rounded
    means, empty cells keep previous centroid."""
    order = np.argsort(ids, kind="stable")
    cents = vecs[order[:k]].astype(np.float64).copy()
    assign = None
    for _ in range(iters):
        d2 = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # argmin takes first (lowest cell) on ties
        for c in range(k):
            members = vecs[assign == c]
            if len(members):
                cents[c] = _round_half_up(members.mean(axis=0), 6)
    return cents, assign


@pytest.fixture(scope="module")
def emb_np(spark, sf_dir):
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    vecs = np.array([r["v"] for r in rows])
    return ids, vecs


def test_kmeans_matches_numpy_reference(spark, sf_dir, emb_np):
    ids, vecs = emb_np
    emb = load_table(spark, sf_dir, "embeddings")
    centroids, update = kmeans_fit(emb, k=8, iters=3, vec_col="embedding")
    np_cents, np_assign = _numpy_kmeans(vecs, ids, k=8, iters=3)

    got = np.array(centroids)
    # cells emptied in the final assignment keep the previous centroid on
    # the Spark side; the NumPy twin does the same — exact equality expected
    # (identical rounding grid; per-coordinate means differ only below 6dp)
    assert got.shape == np_cents.shape
    np.testing.assert_allclose(got, np_cents, rtol=0, atol=1e-12)

    # final assignment parity through the public assign_cells
    assigned = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(
            emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v")),
            centroids,
        ).collect()
    }
    # NumPy assignment is against the PRE-update centroids of the last
    # iteration; recompute against final centroids for a like-for-like check
    d2 = ((vecs[:, None, :] - got[None, :, :]) ** 2).sum(axis=2)
    want = d2.argmin(axis=1)
    got_assign = np.array([assigned[i] for i in ids])
    assert (got_assign == want).mean() > 0.99  # float-boundary flips only
    # and the update plan's cells are exactly the assignment's cells
    cells_in_update = {r["cell"] for r in update.select("cell").distinct().collect()}
    assert cells_in_update <= set(range(8))


def test_semantic_dedup_flags_injected_neardups(spark, sf_dir):
    """Every injected near-identical copy that lands in its source's cell is
    flagged; originals with no lower-id neighbor are kept."""
    from tickerlake_spark.plans.q_llm import _mutated_embeddings

    emb = _mutated_embeddings(spark, sf_dir)
    centroids, _ = kmeans_fit(emb, k=8, iters=2, vec_col="v")
    flags = semantic_dedup_flags(emb, centroids, threshold=0.98, vec_col="v")
    rows = {r["id"]: (r["cell"], r["is_dup"]) for r in flags.collect()}

    cells = {
        r["id"]: r["cell"]
        for r in assign_cells(
            emb.withColumnRenamed("vec_id", "id"), centroids, vec_col="v"
        ).collect()
    }
    mutated = [i for i in rows if i >= 100000]
    assert len(mutated) == 25
    co_located = [i for i in mutated if cells[i] == cells[i - 100000]]
    assert co_located, "at least some perturbed copies share their source cell"
    for i in co_located:
        assert rows[i][1], f"co-located near-dup {i} not flagged"
    # a dup flag requires a lower-id witness: originals 26+ are clean copies
    clean = [i for i in rows if 25 <= i < 100000]
    assert sum(rows[i][1] for i in clean) == 0


def test_estep_plan_has_no_vector_shuffle(spark, sf_dir):
    """The assignment (E-step) must be map-side: centroid literals, no join,
    no exchange of the vector table before the argmin projection."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = [[0.01 * (i + 1)] * 64 for i in range(8)]
    plan = assign_cells(emb, cents).sample(1.0)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_semantic_dedup_pairwise_is_equi_join(spark, sf_dir):
    """The within-cell verify must reach the join as a hash-partitioned
    equi-join on cell (plus the id inequality as a post-condition) — never a
    cartesian/broadcast-nested-loop over the corpus."""
    from tickerlake_spark.plans.q_llm import _mutated_embeddings

    emb = _mutated_embeddings(spark, sf_dir)
    cents = [[0.01 * (i + 1)] * 64 for i in range(8)]
    plan = (
        semantic_dedup_flags(emb, cents, threshold=0.98, vec_col="v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_ivf_index_write_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The materialized IVF index must (a) return the same top-k as probing
    the same cells in memory, and (b) carry the cell probe as a PARTITION
    filter — directory-level pruning, not a post-scan filter."""
    from tickerlake_spark.operators.clustering import (
        ivf_index_topk,
        kmeans_fit,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, _ = kmeans_fit(emb, k=8, iters=2, vec_col="embedding")
    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, centroids, path, vec_col="embedding")

    # one directory per non-empty cell
    import os

    cells = sorted(d for d in os.listdir(path) if d.startswith("cell="))
    assert 1 < len(cells) <= 8

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    got = ivf_index_topk(spark, path, centroids, qvec, k=5, n_probe=2)

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0], "cell probe must prune at the partition level"

    # parity vs assigning + filtering in memory (same centroids, same cells)
    from tickerlake_spark.functions.vector import cosine_similarity
    from tickerlake_spark.operators.clustering import assign_cells

    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    assigned = assign_cells(base, centroids, vec_col="v")
    probed_cells = {r["cell"] for r in got.select("cell").distinct().collect()}
    q = F.lit(qvec).cast("array<double>")
    want = (
        assigned.filter(F.col("cell").isin(list(probed_cells)))
        .select(
            F.col("vec_id").alias("id"),
            cosine_similarity(F.col("v"), q).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("id").asc())
        .limit(5)
        .collect()
    )
    got_rows = got.select("id", "cosine").collect()
    assert [(r["id"], round(r["cosine"], 9)) for r in got_rows] == [
        (r["id"], round(r["cosine"], 9)) for r in want
    ]


def test_arrow_assignment_matches_literal_path(spark, sf_dir):
    """The large-k Arrow kernel must produce the same assignments as the
    unrolled-literal argmin (ties are measure-zero on real embeddings), and
    its plan must stay shuffle-free (mapInPandas adds no Exchange)."""
    from tickerlake_spark.operators.clustering import assign_cells_arrow
    from tickerlake_spark.plans.catalog import ensure_executors_can_import

    ensure_executors_can_import(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # 128 cells — past the point where the literal expression tree is sane
    cents = [
        [0.01 * ((i * 7 + j * 3) % 97 - 48) for j in range(64)] for i in range(128)
    ]
    got = {
        r["vec_id"]: r["cell"]
        for r in assign_cells_arrow(emb, cents).select("vec_id", "cell").collect()
    }

    import numpy as np

    rows = emb.collect()
    vecs = np.array([r["v"] for r in rows])
    cmat = np.array(cents)
    d2 = ((vecs[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
    want = d2.argmin(axis=1)
    assert [got[r["vec_id"]] for r in rows] == list(want)

    plan = (
        assign_cells_arrow(emb, cents)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_oversized_cell_guard_splits_hot_cell_keeps_recall(spark, sf_dir):
    """When one cell swamps the corpus (here: a centroid at the data mean
    captures ~everything), the oversized-fraction guard must append an LSH
    subkey that splits the hot cell's pairwise work while keeping every
    injected near-dup joinable with its source."""
    from tickerlake_spark.operators.similarity import hyperplane_bucket

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    mut = e.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(F.array(F.element_at("v", 1) + 0.001), F.slice("v", 2, 10000)).alias("v"),
    )
    corpus = e.unionByName(mut)
    cents = [[0.0] * 64, [10.0] * 64]  # cell 0 captures the whole corpus

    flags = semantic_dedup_flags(
        corpus, cents, threshold=0.98, oversized_fraction=0.3, dim=64
    )
    dups = sorted(r["id"] for r in flags.collect() if r["is_dup"])
    assert dups == [100000 + i for i in range(25)], (
        "every near-identical copy must share its source's LSH bucket"
    )

    # the hot cell's verify key cardinality: without the guard one group of
    # |corpus|; with it, bucketed groups bounded far below quadratic blowup
    sub = assign_cells(corpus, cents).withColumn(
        "b", hyperplane_bucket(F.col("v"), 8, dim=64)
    )
    max_group = (
        sub.groupBy("cell", "b").count().agg(F.max("count")).first()[0]
    )
    assert max_group <= 25, f"hot-cell bucket groups stay small, got {max_group}"


class _StatsRaise:
    """A stand-in ``_jdf`` whose plan-statistics call fails, as a private
    JVM API that changed or broke would."""

    def queryExecution(self):
        return self

    def optimizedPlan(self):
        return self

    def stats(self):
        raise RuntimeError("plan statistics unavailable")


def test_trainer_width_falls_back_to_full_width(spark, monkeypatch):
    """``_trainer_width`` sizes by the optimizer's byte estimate, read
    through a private JVM API; when that read fails it returns the full
    ``defaultParallelism`` width, the safe direction at scale."""
    from tickerlake_spark.operators.clustering import _trainer_width

    df = spark.range(10)
    width = spark.sparkContext.defaultParallelism
    assert _trainer_width(df) == 1  # 10 rows: well under 1 MiB per task
    monkeypatch.setattr(df, "_jdf", _StatsRaise())
    assert _trainer_width(df) == width
