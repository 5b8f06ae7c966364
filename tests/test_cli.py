"""CLI end-to-end: the reference's main.go workflow on text files."""

from __future__ import annotations

import glob
import os

import pytest

from map_reduce_in_go_spark.cli import main


def _read_all(path: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for f in glob.glob(os.path.join(path, "bucket=*", "*.csv")):
        with open(f) as fh:
            for line in fh:
                k, v = line.rstrip("\n").split("\t")
                assert k not in out, f"key {k} appears in two buckets"
                out[k] = int(v)
    return out


def test_cli_wordcount_native(tmp_path, spark):
    src = tmp_path / "in.txt"
    src.write_text("The fox. THE FOX!\nfox?\n")
    out = str(tmp_path / "out")
    assert main(["--input", str(src), "--output", out, "--reduce", "3"]) == 0
    assert _read_all(out) == {"the": 2, "fox": 3}


def test_cli_wordcount_generic_matches_native(tmp_path, spark):
    src = tmp_path / "in.txt"
    src.write_text("alpha beta beta Gamma; gamma GAMMA\n")
    out_n = str(tmp_path / "native")
    out_g = str(tmp_path / "generic")
    main(["--input", str(src), "--output", out_n, "--reduce", "2"])
    main(["--input", str(src), "--output", out_g, "--reduce", "2", "--generic"])
    assert _read_all(out_n) == _read_all(out_g) == {
        "alpha": 1,
        "beta": 2,
        "gamma": 3,
    }


def test_cli_grep(tmp_path, spark):
    a = tmp_path / "a.txt"
    a.write_text("spark line\nno match\nspark again\n")
    b = tmp_path / "b.txt"
    b.write_text("nothing here\n")
    out = str(tmp_path / "out")
    assert (
        main(["--input", f"{a},{b}", "--output", out, "--app", "grep",
              "--pattern", "spark", "--reduce", "2"])
        == 0
    )
    got = _read_all(out)
    assert len(got) == 1 and next(iter(got.values())) == 2

def test_cli_list_queries(capsys):
    from map_reduce_in_go_spark.cli import main

    assert main(["--list-queries"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert "wordcount" in out and "pagerank_docs" in out and len(out) >= 100


def test_cli_run_query(tmp_path, spark, sf_dir, capsys):
    from map_reduce_in_go_spark.cli import main

    out = str(tmp_path / "q6")
    rc = main(["--run-query", "q6_forecast_revenue", "--sf-dir", sf_dir,
               "--output", out])
    assert rc == 0
    assert spark.read.parquet(out).count() == 1


def test_cli_run_query_unknown():
    from map_reduce_in_go_spark.cli import main

    assert main(["--run-query", "nope"]) == 2


@pytest.mark.parametrize("value", ["0", "-2"])
@pytest.mark.parametrize("flag", ["--reduce", "--workers"])
def test_cli_rejects_non_positive_counts(tmp_path, flag, value):
    """A bucket or core count below 1 is a usage error (exit 2) raised by
    argument parsing, before a Spark session is started."""
    src = tmp_path / "in.txt"
    src.write_text("a b\n")
    with pytest.raises(SystemExit) as exc:
        main(["--input", str(src), "--output", str(tmp_path / "out"), flag, value])
    assert exc.value.code == 2


def test_cli_rejects_generic_grep(tmp_path, monkeypatch, capsys):
    """--generic runs wordcount only: pairing it with --app grep is a usage
    error (exit 2) found before a Spark session is started, not a flag that
    grep silently ignores."""
    from map_reduce_in_go_spark import session

    def _no_session(*_a, **_k):
        raise AssertionError("a session was started")

    monkeypatch.setattr(session, "get_spark", _no_session)
    src = tmp_path / "in.txt"
    src.write_text("a b\n")
    rc = main(["--input", str(src), "--output", str(tmp_path / "out"),
               "--app", "grep", "--generic"])
    assert rc == 2
    assert "--generic" in capsys.readouterr().err


def test_cli_signal_handler_drains_and_exits(spark):
    """main.go:32-66 parity: the installed SIGTERM handler stops the
    session only when CLI-owned, never touches the session's streaming
    queries (a joined session's streams belong to its caller), survives a
    dead gateway, and exits with 128+signum. Simulated: install against a
    stub session, retrieve the registered handler, and invoke it."""
    import signal

    from map_reduce_in_go_spark.cli import install_signal_handlers

    class StubSession:
        def __init__(self, dead=False):
            self.dead = dead
            self.stopped = False
            self.streams_read = False

        @property
        def streams(self):
            self.streams_read = True
            return None

        def stop(self):
            if self.dead:
                raise ConnectionError("gateway gone")
            self.stopped = True

    def fire(stub, owned, signum):
        install_signal_handlers(stub, owned=owned)
        try:
            signal.getsignal(signum)(signum, None)
        except SystemExit as e:
            assert e.code == 128 + signum
        else:
            raise AssertionError("handler must exit")
        assert not stub.streams_read

    saved = {s: signal.getsignal(s) for s in (signal.SIGINT, signal.SIGTERM)}
    try:
        # not CLI-owned: session left running
        stub = StubSession()
        fire(stub, False, signal.SIGTERM)
        assert not stub.stopped
        # CLI-owned: session stopped
        stub = StubSession()
        fire(stub, True, signal.SIGINT)
        assert stub.stopped
        # CLI-owned with a dead gateway: still exits cleanly
        fire(StubSession(dead=True), True, signal.SIGTERM)
    finally:
        for s, h in saved.items():
            signal.signal(s, h)


def test_dynamic_allocation_gated_to_cluster_masters(spark, monkeypatch):
    """Reference dynamic-worker-pool parity: the dynamicAllocation block
    is populated for cluster URLs only; a local master gets the driver-JVM
    flags instead, minus the collector when the caller picks one (in
    extraJavaOptions or through the JVM's option env vars). The live
    session's driver JVM must carry them."""
    from map_reduce_in_go_spark.session import dynamic_allocation_or_local_jvm_conf as gate

    for var in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS"):
        monkeypatch.delenv(var, raising=False)
    jit = ("-XX:CICompilerCount=2 -XX:Tier4InvocationThreshold=50000 "
           "-XX:Tier4CompileThreshold=150000")
    local_jvm = {"spark.driver.defaultJavaOptions": jit + " -XX:+UseSerialGC"}
    jit_only = {"spark.driver.defaultJavaOptions": jit}
    assert gate("local[32]") == local_jvm
    assert gate("local[*]") == local_jvm
    assert gate("local[4,3]", {"spark.sql.shuffle.partitions": "8"}) == local_jvm
    own_gc = {"spark.driver.extraJavaOptions": "-Xss4m -XX:+UseG1GC"}
    assert gate("local[4]", own_gc) == jit_only
    for var in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS"):
        monkeypatch.setenv(var, "-Xss4m")
        assert gate("local[4]") == local_jvm
        monkeypatch.setenv(var, "-XX:+UseG1GC")
        assert gate("local[4]") == jit_only
        monkeypatch.delenv(var)
    for master in ("spark://host:7077", "yarn", "k8s://https://api:6443"):
        conf = gate(master)
        assert conf["spark.dynamicAllocation.enabled"] == "true"
        assert conf["spark.dynamicAllocation.shuffleTracking.enabled"] == "true"
        assert not any("JavaOptions" in k for k in conf)
        assert gate(master, own_gc) == conf

    jvm = spark.sparkContext._jvm
    mgmt = jvm.java.lang.management.ManagementFactory
    assert "-XX:CICompilerCount=2" in list(mgmt.getRuntimeMXBean().getInputArguments())
    collectors = {b.getName() for b in mgmt.getGarbageCollectorMXBeans()}
    assert collectors == {"Copy", "MarkSweepCompact"}
    hotspot = mgmt.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert hotspot.getVMOption("Tier4InvocationThreshold").getValue() == "50000"
    assert hotspot.getVMOption("Tier4CompileThreshold").getValue() == "150000"


def test_cli_keeps_log_level_of_joined_session(tmp_path, spark):
    """A CLI run that joins a caller's session leaves its log level alone."""
    root = spark.sparkContext._jvm.org.apache.logging.log4j.LogManager.getRootLogger
    before = root().getLevel().toString()
    src = tmp_path / "in.txt"
    src.write_text("one two two\n")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        assert main(["--input", str(src), "--output", str(tmp_path / "out")]) == 0
        assert root().getLevel().toString() == "ERROR"
    finally:
        spark.sparkContext.setLogLevel(before)
