"""Distributed linear algebra: moments exactness, PCA determinism, and
whitening semantics (operators/linalg.py)."""

from __future__ import annotations

import numpy as np

from data_integration_and_processing_spark.operators.linalg import (
    corpus_moments,
    pca_project,
)


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_moments_match_numpy(spark, sf_dir):
    e = _emb(spark, sf_dir)
    n, mean, cov = corpus_moments(e)
    x = np.stack(e.toPandas()["embedding"].to_numpy()).astype(np.float64)
    assert n == x.shape[0]
    np.testing.assert_allclose(mean, x.mean(axis=0), rtol=1e-12, atol=1e-12)
    ref_cov = np.cov(x, rowvar=False, bias=True)
    np.testing.assert_allclose(cov, ref_cov, rtol=1e-9, atol=1e-12)


def test_projection_deterministic_across_runs(spark, sf_dir):
    e = _emb(spark, sf_dir)
    a, ra = pca_project(e, k=4)
    b, rb = pca_project(e, k=4)
    pa = a.orderBy("vec_id").toPandas()
    pb = b.orderBy("vec_id").toPandas()
    np.testing.assert_array_equal(ra, rb)
    xa = np.stack(pa["components"].to_numpy())
    xb = np.stack(pb["components"].to_numpy())
    np.testing.assert_array_equal(xa, xb)  # bit-stable, not merely close


def test_whitened_covariance_is_identity(spark, sf_dir):
    e = _emb(spark, sf_dir)
    proj, _ = pca_project(e, k=8, whiten=True)
    x = np.stack(proj.toPandas()["components"].to_numpy())
    cov = np.cov(x, rowvar=False, bias=True)
    np.testing.assert_allclose(cov, np.eye(8), atol=1e-6)


def test_explained_variance_sorted_and_bounded(spark, sf_dir):
    e = _emb(spark, sf_dir)
    _, ratio = pca_project(e, k=16)
    assert (np.diff(ratio) <= 1e-12).all()
    assert 0.0 < ratio.sum() <= 1.0 + 1e-9


def test_projection_preserves_pairwise_distances_topk_full_rank(spark, sf_dir):
    # with k = d the projection is an isometry (orthonormal basis): pairwise
    # distances must be preserved to float precision
    e = _emb(spark, sf_dir).limit(50)
    proj, _ = pca_project(e, k=64)
    pdf = proj.orderBy("vec_id").toPandas()
    x_orig = np.stack(_emb(spark, sf_dir).limit(50).orderBy("vec_id").toPandas()["embedding"].to_numpy()).astype(np.float64)
    x_proj = np.stack(pdf["components"].to_numpy())
    d_orig = np.linalg.norm(x_orig[:, None] - x_orig[None, :], axis=-1)
    d_proj = np.linalg.norm(x_proj[:, None] - x_proj[None, :], axis=-1)
    np.testing.assert_allclose(d_proj, d_orig, rtol=1e-6, atol=1e-8)


def test_merged_moments_equal_whole_corpus_moments(spark, sf_dir):
    from data_integration_and_processing_spark.operators.linalg import merge_moments

    e = _emb(spark, sf_dir)
    left = e.filter("vec_id % 2 = 0")
    right = e.filter("vec_id % 2 = 1")
    merged = merge_moments(corpus_moments(left), corpus_moments(right))
    n, mean, cov = corpus_moments(e)
    assert merged[0] == n
    np.testing.assert_allclose(merged[1], mean, rtol=1e-12, atol=1e-12)
    np.testing.assert_allclose(merged[2], cov, rtol=1e-9, atol=1e-12)


class TestFrequentDirections:
    def _vecs(self, spark, n=400, d=12, parts=7):
        from pyspark.sql import functions as F

        return (
            spark.range(n)
            .repartition(parts)
            .select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(1), F.lit(d)),
                    lambda j: F.sin(F.col("id").cast("double") * 0.61 + j.cast("double")),
                ).alias("embedding"),
            )
        )

    def test_guarantees_hold(self, spark):
        import numpy as np

        from data_integration_and_processing_spark.operators.linalg import (
            corpus_moments,
            frequent_directions,
        )

        df = self._vecs(spark)
        sk, n, frob = frequent_directions(df, sketch_rows=8)
        assert n == 400 and sk.shape == (8, 12)
        n_m, mean, cov = corpus_moments(df)
        gram = n_m * (cov + np.outer(mean, mean))
        vals = np.linalg.eigvalsh(gram - sk.T @ sk)
        assert vals.min() >= -1e-6 * frob  # PSD: sketch never overestimates
        assert vals.max() <= 2.0 * frob / 8 + 1e-6 * frob

    def test_guarantees_partitioning_independent(self, spark):
        """The FD bound is worst-case, not an expectation: it must hold for
        ANY partition layout (the sketch itself may differ)."""
        import numpy as np

        from data_integration_and_processing_spark.operators.linalg import (
            corpus_moments,
            frequent_directions,
        )

        for parts in (1, 3, 16):
            df = self._vecs(spark, parts=parts)
            sk, _, frob = frequent_directions(df, sketch_rows=8)
            n_m, mean, cov = corpus_moments(df)
            gram = n_m * (cov + np.outer(mean, mean))
            vals = np.linalg.eigvalsh(gram - sk.T @ sk)
            assert vals.min() >= -1e-6 * frob, parts
            assert vals.max() <= 2.0 * frob / 8 + 1e-6 * frob, parts

    def test_tree_merge_path_guarantees_and_exact_scalars(self, spark):
        """Forced two-level fold (threshold below the partition count): the
        worst-case guarantees must hold through the executor-side group
        merge, and n / ||A||_F^2 — exact sums — must equal the flat fold's
        survivors, not P)."""
        import numpy as np

        from data_integration_and_processing_spark.operators.linalg import (
            corpus_moments,
            frequent_directions,
        )

        df = self._vecs(spark, parts=16)
        sk_flat, n_flat, frob_flat = frequent_directions(df, sketch_rows=8)
        sk_tree, n_tree, frob_tree = frequent_directions(
            df, sketch_rows=8, tree_merge_threshold=4
        )
        assert n_tree == n_flat == 400
        np.testing.assert_allclose(frob_tree, frob_flat, rtol=1e-12)
        n_m, mean, cov = corpus_moments(df)
        gram = n_m * (cov + np.outer(mean, mean))
        vals = np.linalg.eigvalsh(gram - sk_tree.T @ sk_tree)
        assert vals.min() >= -1e-6 * frob_tree
        assert vals.max() <= 2.0 * frob_tree / 8 + 1e-6 * frob_tree

    def test_tree_merge_path_deterministic(self, spark):
        """Same input partitioning + same merge tree => bit-identical sketch
        (pid-ordered group folds, gid-ordered driver fold)."""
        import numpy as np

        from data_integration_and_processing_spark.operators.linalg import (
            frequent_directions,
        )

        df = self._vecs(spark, parts=16)
        a, _, _ = frequent_directions(df, sketch_rows=8, tree_merge_threshold=4)
        b, _, _ = frequent_directions(df, sketch_rows=8, tree_merge_threshold=4)
        np.testing.assert_array_equal(a, b)

    def test_streaming_fd_survives_input_smaller_than_staged_files(self, spark, tmp_path):
        """_staged_stream's repartition(4) can stage empty parquet files
        when the input has fewer rows than n_files, which would make
        run_streaming_frequent_directions raise inside foreachBatch
        (frequent_directions rejects empty input). The land() guard must
        carry prior state forward instead; exact scalars still fold right."""
        import numpy as np

        from data_integration_and_processing_spark.streaming.pipelines import (
            run_streaming_frequent_directions,
        )

        df = self._vecs(spark, n=2, parts=1)
        sk, n, frob = run_streaming_frequent_directions(
            spark, df, sketch_rows=4, scratch_dir=str(tmp_path / "sfd")
        )
        assert n == 2
        x = np.stack(df.toPandas()["embedding"].to_numpy()).astype(np.float64)
        np.testing.assert_allclose(frob, float((x * x).sum()), rtol=1e-9)
        # 2 rows < sketch_rows=4: the sketch captures the input exactly
        np.testing.assert_allclose(sk.T @ sk, x.T @ x, rtol=1e-8, atol=1e-10)

    def test_low_rank_input_recovered_exactly(self, spark):
        """Rank-r input with r < l: the sketch captures the whole Gram (the
        shrink never fires past the rank), so the error is ~0."""
        import numpy as np
        from pyspark.sql import functions as F

        from data_integration_and_processing_spark.operators.linalg import (
            frequent_directions,
        )

        # every row a multiple of one fixed direction => rank 1
        df = spark.range(200).select(
            F.transform(
                F.sequence(F.lit(1), F.lit(6)),
                lambda j: (F.col("id") % 5 + 1).cast("double") * j.cast("double"),
            ).alias("embedding")
        )
        sk, n, frob = frequent_directions(df, sketch_rows=4)
        captured = float((sk * sk).sum())
        assert abs(captured - frob) <= 1e-6 * frob
