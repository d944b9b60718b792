from proof_of_concept___cdc_w_iceberg_spark.session import default_driver_memory


def test_default_driver_memory_is_a_capped_quarter_of_the_box():
    import os

    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    mem = default_driver_memory()
    assert mem.endswith("g")
    gib = int(mem[:-1])
    assert 1 <= gib <= 16
    assert gib == 16 or abs(gib - phys_gib / 4) <= 0.5
