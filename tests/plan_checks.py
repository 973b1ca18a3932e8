"""Assertions shared by the tests of planned (file-granular) reads."""

import re


def payload_read_filters(calls) -> list:
    """The row filters of the recorded reads that fetch the payload column."""
    return [f for cols, f in calls if cols is None or "payload" in cols]


def assert_file_granular_plan(df) -> None:
    """A planned read: file tasks (``read_files``), no Exchange, and no JVM
    scan that reads chunk payloads."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "read_files" in plan, plan
    assert "Exchange" not in plan, plan
    scans = re.findall(r"ReadSchema: struct<[^>]*>", plan)
    assert not any("payload" in s for s in scans), scans


def assert_no_chunk_row_shuffle(df) -> None:
    """A chunk job fed by file tasks: no chunk-row shuffle on the chunk
    key and no JVM scan that reads chunk payloads (an NDV-scale
    ``groupBy`` Exchange is fine)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert "Exchange hashpartitioning(pid" not in plan, plan
    scans = re.findall(r"ReadSchema: struct<[^>]*>", plan)
    assert not any("payload" in s for s in scans), scans


def run_counting_jobs(spark, group: str, fn):
    """(``fn()``, number of Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def run_counting_py4j(spark, fn):
    """(``fn()``, number of py4j commands the driver sent the JVM). The
    deletes of garbage-collected Java references are not counted: they are
    sent whenever Python's collector runs."""
    import gc

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = 0

    def counting(command, *args, **kw):
        nonlocal n
        n += not command.startswith("m\nd\n")
        return send(command, *args, **kw)

    gc.collect()
    client.send_command = counting
    try:
        out = fn()
    finally:
        del client.send_command
    return out, n


def assert_no_row_filter(df) -> None:
    """A filtered read whose row predicate runs inside the file task: a
    ``MapInArrow`` and no Spark ``Filter`` node in the executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert not re.search(r"\bFilter \(", plan), plan
