"""Fast self-check of the benchmark's own code, at tiny sizes.

    python3 perfbench/selfcheck.py

Checks SQL-metric / REST parsing and the per-call layer attribution against
canned REST responses shaped like Spark 4.1's, then starts a ``local[1]``
session and checks that the oracle compare passes equal outputs and catches
each planted mismatch. Prints ``selfcheck ok`` and exits 0, or raises.
"""

from __future__ import annotations

import math
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import sparkrest  # noqa: E402
from perfbench.run import Tracer, call_layers, host_env, stop_spark  # noqa: E402
from perfbench.workloads import Call  # noqa: E402

TASK = "total (min, med, max (stageId: taskId))\n"


def _node(node_id, name, **metrics):
    return {
        "nodeId": node_id,
        "nodeName": name,
        "metrics": [{"name": k.replace("_", " "), "value": v} for k, v in metrics.items()],
    }


#: one span-pipeline write: scan → Exchange(doc_id) → Sort → MapInArrow →
#: Exchange(bucket) → Sort → write, as the SQL REST endpoint lists it
SQL = [
    {
        "id": 9,
        "duration": 8733,
        "successJobIds": [14, 15, 16],
        "nodes": [
            _node(1, "Execute InsertIntoHadoopFsRelationCommand",
                  task_commit_time=TASK + "26 ms (0 ms, 1 ms, 7 ms (stage 25.0: task 189))",
                  number_of_written_files="32", written_output="449.9 KiB"),
            _node(4, "Sort", sort_time=TASK + "0 ms (0 ms, 0 ms, 0 ms (stage 25.0: task 178))"),
            _node(5, "Exchange", shuffle_records_written="3,000",
                  shuffle_bytes_written=TASK + "1833.7 KiB (48.8 KiB, 57.7 KiB, 67.6 KiB (stage 22.0: task 146))"),
            _node(9, "MapInArrow",
                  time_to_run_Python_workers=TASK + "10.3 s (247 ms, 331 ms, 368 ms (stage 22.0: task 167))",
                  time_to_initialize_Python_workers=TASK + "23.2 s (225 ms, 303 ms, 7.2 s (stage 22.0: task 144))",
                  time_to_start_Python_workers=TASK + "85 ms (0 ms, 9 ms, 22 ms (stage 22.0: task 167))",
                  data_sent_to_Python_workers=TASK + "8.0 MiB (208.8 KiB, 257.6 KiB, 309.0 KiB (stage 22.0: task 150))",
                  data_returned_from_Python_workers=TASK + "2.7 MiB (70.7 KiB, 87.0 KiB, 104.3 KiB (stage 22.0: task 150))",
                  number_of_output_rows="3,000"),
            _node(11, "Sort", sort_time=TASK + "40 ms (0 ms, 1 ms, 7 ms (stage 22.0: task 145))",
                  spill_size=TASK + "0.0 B (0.0 B, 0.0 B, 0.0 B (stage 22.0: task 146))"),
            _node(12, "Exchange", shuffle_records_written="87,290",
                  shuffle_bytes_written=TASK + "3.3 MiB (1647.0 KiB, 1725.7 KiB, 1725.7 KiB (stage 20.0: task 144))"),
            _node(20, "Scan parquet", number_of_output_rows="87,290"),
        ],
        "edges": [
            {"fromId": 4, "toId": 1}, {"fromId": 5, "toId": 4}, {"fromId": 9, "toId": 5},
            {"fromId": 11, "toId": 9}, {"fromId": 12, "toId": 11}, {"fromId": 20, "toId": 12},
        ],
    },
    # a checkpoint append of the same call: no Exchange, so not a data write
    {"id": 10, "duration": 679, "successJobIds": [17],
     "nodes": [_node(1, "Execute InsertIntoHadoopFsRelationCommand", number_of_written_files="1")],
     "edges": []},
]


def _stage(sid, status, start, end, **kw):
    return {"stageId": sid, "attemptId": 0, "status": status, "numCompleteTasks": kw.get("tasks", 1),
            "executorRunTime": kw.get("run_ms", 0), "executorCpuTime": kw.get("cpu_ns", 0),
            "jvmGcTime": 0, "shuffleWriteBytes": kw.get("shuffle", 0), "shuffleWriteRecords": 0,
            "memoryBytesSpilled": 0, "diskBytesSpilled": 0,
            "submissionTime": start, "completionTime": end, "name": f"stage {sid}"}


STAGES = [
    _stage(20, "COMPLETE", "2026-10-16T22:50:12.586GMT", "2026-10-16T22:50:12.905GMT", tasks=2, shuffle=3453593),
    _stage(21, "SKIPPED", None, None),
    _stage(22, "COMPLETE", "2026-10-16T22:50:12.972GMT", "2026-10-16T22:50:19.308GMT",
           tasks=32, run_ms=11795, cpu_ns=1_699_717_846, shuffle=1877684),
    _stage(25, "COMPLETE", "2026-10-16T22:50:19.382GMT", "2026-10-16T22:50:21.073GMT", tasks=32),
    _stage(26, "COMPLETE", "2026-10-16T22:50:21.261GMT", "2026-10-16T22:50:21.852GMT"),
]
JOBS = [
    {"jobId": 14, "jobGroup": "t0-", "stageIds": [20]},
    {"jobId": 15, "jobGroup": "t0-", "stageIds": [21, 22]},
    {"jobId": 16, "jobGroup": "t0-", "stageIds": [25]},
    {"jobId": 17, "jobGroup": "t0-", "stageIds": [26]},
    {"jobId": 18, "jobGroup": "other", "stageIds": [27]},
]


class FakeRest:
    def task_skew(self, stage_id):
        return 1.5


def check_parsing() -> None:
    pm = sparkrest.parse_metric
    assert pm("87,290") == (87290.0, None)
    assert pm("3.3 MiB") == (3.3 * 2**20, None)
    assert pm("44 ms") == (0.044, None)
    v, stage = pm(TASK + "10.3 s (247 ms, 331 ms, 368 ms (stage 22.0: task 167))")
    assert math.isclose(v, 10.3) and stage == 22
    v, stage = pm(TASK + "1.5 m (1 ms, 2 ms, 3 ms (stage 7.1: task 3))")
    assert math.isclose(v, 90.0) and stage == 7
    for bad in ("n/a", "12 parsecs"):
        try:
            pm(bad)
        except ValueError:
            pass
        else:
            raise AssertionError(f"parse_metric accepted {bad!r}")
    assert sparkrest.union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert math.isclose(
        sparkrest.parse_time("2026-10-16T22:50:22.013GMT") - sparkrest.parse_time("2026-10-16T22:50:21.000GMT"),
        1.013,
        abs_tol=1e-6,
    )

    execs = sparkrest.parse_executions(SQL)
    kernel = execs[0].named("MapInArrow")[0]
    assert kernel.stage() == 22
    assert [n.name for n in execs[0].upstream(kernel.node_id)] == ["Sort", "Exchange", "Scan parquet"]

    stages = sparkrest.parse_stages(STAGES)
    jobs = sparkrest.jobs_by_group(JOBS)
    t0 = sparkrest.parse_time("2026-10-16T22:50:12.000GMT")
    call = Call("run_spans_job", "t0-", 10.0, t0, t0 + 10.0, 3000, 32)
    m = call_layers(call, {"MapInArrow": "layout"}, FakeRest(), (jobs, stages, execs), True, Tracer(True, "x"))
    want = {
        "pipeline.jobs": 4,
        "layout.exchanges": 1,  # the bucket write's exchange is downstream
        "layout.shuffle_records": 87290,
        "layout.shuffle_write_bytes": 3.3 * 2**20,
        "layout.py_run_s": 10.3,
        "layout.py_init_s": 23.2,
        "layout.arrow_bytes_to_py": 8.0 * 2**20,
        "layout.tasks": 32,
        "layout.stage_run_s": 11.795,
        "layout.task_skew": 1.5,
        "layout.sort_s": 0.04,
        "pipeline.files_written": 32,  # the checkpoint append is not counted
        "pipeline.output_bytes": 449.9 * 2**10,
        "shuffle_bytes": 3453593 + 1877684,
        # the four completed stages cover 8.937 s of the 10 s call
        "pipeline.driver_gap_s": 10.0 - (0.319 + 6.336 + 1.691 + 0.591),
    }
    for k, v in want.items():
        assert math.isclose(m[k], v, rel_tol=1e-9, abs_tol=1e-6), (k, m[k], v)


def check_oracle() -> None:
    from autoextract.session import get_spark
    from perfbench import oracle

    spark = get_spark(app_name="perfbench-selfcheck", parallelism=1)
    spark.sparkContext.setLogLevel("ERROR")
    span = "struct<kind:string,text:string,media_ref:string,offset:int>"
    schema = f"doc_id string, spans array<{span}>"
    a = [("text", "注文日", None, 0), ("media", None, "fig:d1:0", 1)]
    b = [("text", "東京", None, 0)]
    expected = spark.createDataFrame([("d1", a), ("d2", b)], schema)

    def failures(rows):
        got = oracle.spans_rows(spark.createDataFrame(rows, schema))
        return oracle.count_failed(oracle.bad_docs(oracle.spans_rows(expected), [got]))

    assert failures([("d2", b), ("d1", a)]) == 0
    assert failures([("d1", a), ("d2", [("text", "大阪", None, 0)])]) == 1  # altered text
    assert failures([("d1", a), ("d2", [("text", "東京", None, 1)])]) == 1  # altered offset
    assert failures([("d1", a[::-1]), ("d2", b)]) == 1  # reordered spans
    assert failures([("d1", a)]) == 1  # missing document
    assert failures([("d1", a), ("d2", b), ("d2", b)]) == 1  # duplicated document
    assert failures([("d1", a), ("d2", b), ("d3", b)]) == 1  # extra document

    fields = "doc_id string, field_path string, value string, word_ids array<int>, confidence double"
    exp = spark.createDataFrame([("d1", "order_date", "5月1日", [0], 1.0), ("d1", "fare", "", [], 0.8)], fields)
    bad = spark.createDataFrame([("d1", "order_date", "5月1日", [0], 1.0), ("d1", "fare", "", [], 0.7)], fields)
    assert oracle.count_failed(oracle.bad_docs(oracle.extracted_rows(exp), [oracle.extracted_rows(exp)])) == 0
    assert oracle.count_failed(oracle.bad_docs(oracle.extracted_rows(exp), [oracle.extracted_rows(bad)])) == 1


def main() -> int:
    check_parsing()
    run_dir = os.path.join(ROOT, "perfbench", "out", "selfcheck")
    host_env(run_dir)
    try:
        check_oracle()
    finally:
        stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
    print("selfcheck ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
