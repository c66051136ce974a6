"""Configs that ``session.get_spark`` must put on a live session."""


def test_execution_page_is_4_mib(spark):
    """``spark.buffer.pageSize=4m`` reaches the memory manager: each
    hash-aggregate or sort task zeroes a 4 MiB page, not the derived
    64 MiB (execution memory / cores / 16 with the 8g driver on 4 cores)."""
    mm = spark.sparkContext._jsc.sc().env().memoryManager()
    assert mm.pageSizeBytes() == 4 << 20
