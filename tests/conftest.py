import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("TEST_ORACLE_SF_DIR", "/root/testdata/sf0.001")
_SLOW_SKIP_REASON = "slow-profile lap: D_SPARQ_FULL_TESTS=1 or -m slow runs it"


def pytest_collection_modifyitems(config, items):
    """Default = FAST profile (r12, VERDICT r11 #1): the suite outgrew the
    driver's verify window (1117 tests, ~40 min idle — VERIFY_r11
    truncated at ~64% with zero failures), so the heavyweight laps are
    marked `slow` and skipped unless explicitly requested. They are NOT
    redundant — run them via D_SPARQ_FULL_TESTS=1 before shipping; the
    DuckDB sweep additionally runs standalone as tools/emit_local_oracle.py
    (the LOCAL_ORACLE artifacts), which is why the default profile can
    afford to skip it."""
    if os.environ.get("D_SPARQ_FULL_TESTS") == "1":
        return
    if config.getoption("-m"):
        return  # explicit marker expression: the user chose, respect it
    skip = pytest.mark.skip(reason=_SLOW_SKIP_REASON)
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


def pytest_terminal_summary(terminalreporter):
    """Say how many slow tests the fast profile skipped, so a green run
    cannot hide that the heavyweight laps did not run."""
    n = sum(
        1
        for rep in terminalreporter.stats.get("skipped", [])
        if isinstance(rep.longrepr, tuple) and _SLOW_SKIP_REASON in rep.longrepr[2]
    )
    if n:
        terminalreporter.write_line(
            f"fast profile: skipped {n} slow tests; run them with "
            "D_SPARQ_FULL_TESTS=1 (everything) or -m slow (just these)"
        )


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from d_sparq_spark.session import build_session

    wh = tmp_path_factory.mktemp("spark-warehouse")
    s = build_session(
        app_name="d-sparq-spark-tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s
    s.stop()


@pytest.fixture
def jobs_fired(spark):
    """``jobs_fired(fn) -> (fn(), n)``: run fn under its own Spark job
    group and count the jobs it fired (public statusTracker API; the
    status store is fed asynchronously, so wait for active jobs to
    drain before reading it)."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(fn):
        group = f"jobs-fired-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "test job count")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        deadline = time.monotonic() + 10.0
        while tracker.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.05)
        time.sleep(0.2)
        return out, len(tracker.getJobIdsForGroup(group))

    return run


@pytest.fixture
def graph_loops(monkeypatch):
    """A list that gains one entry per call of the per-graph driver loop
    (``Translator._graph_loop``, both engines) while the test runs."""
    from d_sparq_spark.plans.translate import Translator

    calls = []
    real = Translator._graph_loop

    def spy(self, *a, **kw):
        calls.append(1)
        return real(self, *a, **kw)

    monkeypatch.setattr(Translator, "_graph_loop", spy)
    return calls
