"""Bundle store roundtrip (S5-S8)."""

import tempfile

from archive_query_log_spark.crawler import synth
from archive_query_log_spark.sources import bundles


def test_bundle_roundtrip_and_capping(spark):
    images = synth.synth_images(spark, 100, 4).cache()
    with tempfile.TemporaryDirectory() as d:
        ptrs = bundles.write_bundles(
            images, d, n_buckets=4, max_bytes=8 * 1024
        ).cache()
        assert ptrs.count() == 100
        # multiple bundle files per bucket (cap forces rollover)
        n_files = ptrs.select("file").distinct().count()
        assert n_files > 4
        back = bundles.read_ranged(spark, ptrs)
        a = {r["image_id"]: bytes(r["bytes"]) for r in back.collect()}
        b = {
            r["image_id"]: bytes(r["bytes"])
            for r in images.select("image_id", "bytes").collect()
        }
        assert a == b
