"""session.build_spark's driver-heap options."""


class TestSessionHeapPretouch:
    """r7: sized-heap sessions must pin and pre-touch the heap (-Xms = the
    driver memory, AlwaysPreTouch) so G1 never uncommits between queries —
    on lazily-backed VM memory a re-faulting heap turned 1 s scans into
    8-24 s (measured).  Caller-supplied options must still win."""

    def test_pretouch_options_from_driver_memory(self):
        from dataverifyr_spark.session import _driver_java_options

        assert _driver_java_options("48g") == "-Xms49152m -XX:+AlwaysPreTouch"

    def test_caller_options_appended_after_so_they_win(self):
        from dataverifyr_spark.session import _driver_java_options

        out = _driver_java_options("48g", "-Xms8g -XX:MaxMetaspaceSize=1g")
        assert out.startswith("-Xms49152m -XX:+AlwaysPreTouch")
        # JVM takes the LAST -Xms, so the caller's 8g overrides
        assert out.endswith("-Xms8g -XX:MaxMetaspaceSize=1g")

    def test_no_driver_memory_no_injection(self):
        from dataverifyr_spark.session import _spark_confs

        key = "spark.driver.extraJavaOptions"
        assert _spark_confs({"spark_ui_enabled": "false"}) == {"spark.ui.enabled": "false"}
        # the heap string is normalized to MiB; a bare number already is MiB
        for mem, xms in (("1g", "1024m"), ("2gb", "2048m"), ("512", "512m"), ("512m", "512m")):
            got = _spark_confs({"spark_driver_memory": mem})[key]
            assert got == f"-Xms{xms} -XX:+AlwaysPreTouch", mem
        caller = _spark_confs({"spark_driver_memory": "1g", "spark_driver_extraJavaOptions": "-Dx=1"})
        assert caller[key] == "-Xms1024m -XX:+AlwaysPreTouch -Dx=1"
        # an unparseable heap string gets no injection, caller options kept
        bad = _spark_confs({"spark_driver_memory": "1.5g", "spark_driver_extraJavaOptions": "-Dx=1"})
        assert bad[key] == "-Dx=1"
        assert key not in _spark_confs({"spark_driver_memory": "lots"})

    def test_mem_parse_and_ram_guard(self):
        from dataverifyr_spark.session import _mem_to_bytes, _pretouch_fits_ram

        assert _mem_to_bytes("48g") == 48 * 1024**3
        assert _mem_to_bytes("512M") == 512 * 1024**2
        assert _mem_to_bytes("2gb") == 2 * 1024**3
        assert _mem_to_bytes("1024") == 1024 * 1024**2  # bare = MiB, as in Spark
        assert _mem_to_bytes("1048576b") == 1024**2
        assert _mem_to_bytes("1.5g") is None  # unparseable -> no injection
        assert _pretouch_fits_ram("1g")       # 1g fits any CI box
        assert not _pretouch_fits_ram("huge") # unparseable -> refuse
        assert not _pretouch_fits_ram("512k") # under 1 MiB -> no valid -Xms<N>m
        assert not _pretouch_fits_ram("1073741824t")  # > available RAM -> refuse
