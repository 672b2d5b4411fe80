"""plans/: scoped-persist release and lineage without a commit."""

import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from rasterio_spark.plans import cache
from rasterio_spark.plans.lineage import LINEAGE_DIR, checkpointed_write, read_lineage, verify_lineage


def test_release_persisted_logs_failure_and_releases_the_rest(spark, caplog):
    """A failing unpersist is logged as a warning; the handles
    registered around it are still released."""

    class Broken:
        def unpersist(self):
            raise RuntimeError("storage gone")

    cache.release_persisted()
    first = cache.scoped_persist(spark.range(10))
    cache._ACTIVE.append(Broken())
    last = cache.scoped_persist(spark.range(20))
    first.count(), last.count()
    with caplog.at_level("WARNING", logger=cache.__name__):
        assert cache.release_persisted() == 2
    assert "unpersist" in caplog.text and "storage gone" in caplog.text
    assert not cache._ACTIVE
    assert not first.is_cached and not last.is_cached


def _tiles(spark):
    return spark.range(0, 60).select(
        (F.col("id") % 3).cast("int").alias("tile"), F.col("id").alias("v")
    )


def test_read_lineage_missing_vs_unreadable(spark, tmp_path):
    """No lineage path -> None (nothing committed); a lineage path that
    exists but holds no readable lineage raises instead of reading as
    'nothing committed' (which would rewrite every partition)."""
    out = str(tmp_path)
    assert read_lineage(spark, out, "stage1") is None
    checkpointed_write(_tiles(spark), out, "stage1", "tile")
    assert read_lineage(spark, out, "stage1").count() == 3
    broken = os.path.join(out, LINEAGE_DIR, "stage2")
    os.makedirs(broken)  # a lineage dir left empty
    with pytest.raises(AnalysisException):
        read_lineage(spark, out, "stage2")
    with open(os.path.join(broken, "part-00000.parquet"), "wb") as f:
        f.write(b"not parquet")
    with pytest.raises(Py4JJavaError):
        read_lineage(spark, out, "stage2")
    with pytest.raises(Py4JJavaError):
        checkpointed_write(_tiles(spark), out, "stage2", "tile")


def test_verify_lineage_without_lineage_reports_every_partition(spark, tmp_path):
    """Data written with no lineage committed: verify reports each data
    partition as unverified rather than raising."""
    out = str(tmp_path)
    _tiles(spark).write.partitionBy("tile").parquet(os.path.join(out, "stage1"))
    bad = verify_lineage(spark, out, "stage1", "tile").collect()
    assert sorted(r["partition_id"] for r in bad) == [0, 1, 2]
    assert all(r["row_count"] == 20 and r["c_rows"] is None for r in bad)
