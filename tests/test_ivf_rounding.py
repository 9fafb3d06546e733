"""ann_ivf_topk rounds its cosine once, like its DuckDB oracle.

knn_ivf used to round the cosine to 6 places and the query then to 4:
round(round(0.80424962, 6), 4) = 0.8043, while the oracle's single
round gives 0.8042. The seed-12 tables of the analytics benchmark's
generator hit exactly that value.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from oracle_harness import compare  # noqa: E402

from perfbench.tablegen import write_tables  # noqa: E402
from weaver_spark.queries import REGISTRY  # noqa: E402


def test_ann_ivf_topk_seed12_matches_oracle(spark, tmp_path):
    write_tables(str(tmp_path), seed=12)
    fn, sql = REGISTRY["ann_ivf_topk"]
    r = compare(spark, "ann_ivf_topk", fn, sql, str(tmp_path))
    assert r["ok"], r
