"""kNN argument checks: every space rejects a bad k or a NaN max_radius
with a ValueError naming the argument, before any Spark job runs."""

import numpy as np
import pytest
from test_radius_join import _SPACES

pytestmark = pytest.mark.spark


def _n_executions(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


@pytest.mark.parametrize("space", sorted(_SPACES))
def test_knn_rejects_bad_k_and_nan_max_radius(spark, space):
    """k must be an integer >= 1 (NumPy integers accepted, bool rejected)
    and max_radius must not be NaN.  Before, planar k=0/-1/2.5 and SO(3)
    k=0 failed inside an executor task, SE(3) k=0 returned 0 rows, and a
    NaN max_radius returned 0 rows (planar) or no cap (SO(3)).  A finite
    negative max_radius still returns an empty frame."""
    idx, queries, kw, _ = _SPACES[space](spark)
    try:
        before = _n_executions(spark)
        for k in (0, -1, 2.5, True, "3"):
            with pytest.raises(ValueError, match=r"integer k >= 1, got k="):
                idx.knn_join(queries, k=k, **kw)
        if space != "se3":  # the SE(3) join takes no max_radius
            with pytest.raises(ValueError, match=r"max_radius, got max_radius=nan"):
                idx.knn_join(queries, k=2, max_radius=float("nan"))
        assert _n_executions(spark) == before
        if space != "se3":
            assert idx.knn_join(queries, k=2, max_radius=-0.5).count() == 0
        assert idx.knn_join(queries, k=np.int64(2), **kw).count() == 2 * queries.count()
    finally:
        idx.unpersist()
