"""Stage metrics for the bench tools, read from Spark's in-process status
store.

The store is the one the web UI and its REST API serve, and Spark keeps it
with ``spark.ui.enabled=false`` too, so a tool built on the engine's own
``build_session`` reads its application's stages without a UI port.
"""

from __future__ import annotations


def completed_stages(spark) -> list[dict]:
    """One dict per COMPLETE stage of this application, by stage id:
    ``stage``, ``name``, ``tasks``, ``shuffle_read_bytes``,
    ``shuffle_write_bytes``, ``med_task_ms`` and ``max_task_ms`` (median
    and max task ``executorRunTime``)."""
    sc = spark.sparkContext
    jvm, jsc = sc._jvm, sc._jsc.sc()
    # stage-completed events reach the store through the listener bus
    jsc.listenerBus().waitUntilEmpty()
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    # stageList(statuses, details, withSummaries, quantiles, taskStatuses)
    # returns a Scala Seq; the distributions are an Option
    it = (
        jsc.statusStore()
        .stageList(jvm.java.util.ArrayList(), False, True, quantiles, jvm.java.util.ArrayList())
        .iterator()
    )
    out = []
    while it.hasNext():
        s = it.next()
        if s.status().toString() != "COMPLETE":
            continue
        dist = s.taskMetricsDistributions()
        run = dist.get().executorRunTime() if dist.isDefined() else None
        out.append({
            "stage": s.stageId(),
            "name": s.name().split("\n")[0],
            "tasks": s.numCompleteTasks(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "med_task_ms": run.head() if run is not None else 0.0,
            "max_task_ms": run.last() if run is not None else 0.0,
        })
    return sorted(out, key=lambda d: d["stage"])
