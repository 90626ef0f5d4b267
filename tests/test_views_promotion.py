from __future__ import annotations


def test_recover_dir_heals_crashed_swap(spark, tmp_path):
    """A replace_dir swap that crashed between its two renames leaves
    dim__old as the only full copy; recover_dir must restore the real dim
    from it."""
    import os

    from nursing_home_data_etl_pipeline_spark.sources.writers import recover_dir
    from nursing_home_data_etl_pipeline_spark.zones import ZoneLayout

    zones = ZoneLayout(str(tmp_path))
    zones.ensure(spark)
    spark.createDataFrame([("f1", 5)], "facility_number string, rating int")\
        .write.parquet(zones.warehouse("dim_rating_t"))
    # crash between the renames: target gone, __old is the only copy
    os.rename(zones.warehouse("dim_rating_t"), zones.warehouse("dim_rating_t__old"))

    assert recover_dir(spark, zones.warehouse("dim_rating_t"))
    healed = spark.read.parquet(zones.warehouse("dim_rating_t"))
    assert healed.collect()[0].rating == 5
    assert os.path.isdir(zones.warehouse("dim_rating_t"))       # healed on disk
    assert not os.path.isdir(zones.warehouse("dim_rating_t__old"))
