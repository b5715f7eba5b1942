"""The engine JVM runs with session.JIT_OPTIONS in effect. Spark puts
-XX:+IgnoreUnrecognizedVMOptions on the driver command line, so a
mistyped flag would be dropped without an error: each flag's value is
read back from the running JVM, not from the conf. The session fixture
passes its own spark.driver.extraJavaOptions through extra_conf, as
perfbench does, so the same read shows that a caller's options go in
beside the JIT flags instead of replacing them."""

from miaplpy_spark.session import JIT_OPTIONS


def test_jit_flags_in_effect_beside_caller_java_options(spark):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName(
            "com.sun.management.HotSpotDiagnosticMXBean"))
    extra = spark.sparkContext.getConf().get("spark.driver.extraJavaOptions")
    assert "-XX:-UsePerfData" in extra.split()
    assert bean.getVMOption("UsePerfData").getValue() == "false"
    for flag in JIT_OPTIONS.split():
        name, value = flag[len("-XX:"):].split("=")
        assert bean.getVMOption(name).getValue() == value, name
