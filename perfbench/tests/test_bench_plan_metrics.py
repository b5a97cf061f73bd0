"""The plan-metric fold, on fixed trees shaped like Spark's executed plans."""

from plan_metrics import summarize


def node(name, children=(), **metrics):
    return {"name": name, "metrics": metrics, "children": list(children)}


# Rollup over the pipeline: codegen (pre-UDF) -> Python eval -> codegen
# (post-UDF) -> partial aggregate -> exchange -> final aggregate.
ROLLUP = node(
    "WholeStageCodegen (3)",
    [node("HashAggregate", [node("InputAdapter", [node("AQEShuffleRead", [node(
        "Exchange",
        [node("WholeStageCodegen (2)", [node("HashAggregate", [node("Project", [
            node("InputAdapter", [node(
                "ArrowEvalPython",
                [node("WholeStageCodegen (1)", [node("Project", [node(
                    "ColumnarToRow", [node("InputAdapter", [node(
                        "Scan parquet ", numOutputRows=1200.0,
                        filesSize=4000.0, scanTime=50.0)])])])],
                    pipelineTime=900.0)],
                pythonTotalTime=300.0, pythonBootTime=5.0, pythonInitTime=700.0,
                pythonDataSent=2000.0, pythonDataReceived=100.0,
                pythonNumRowsReceived=1200.0)])])],
            aggTime=40.0, peakMemory=1000.0)], pipelineTime=500.0)],
        shuffleRecordsWritten=16.0, dataSize=800.0, shuffleWriteTime=3.5)])])],
        aggTime=2.0, peakMemory=3000.0, spillSize=0.0)],
    pipelineTime=4.0,
)

# The crawl write: WARC chunks -> MapInPandas -> pipeline -> parquet write
WRITE = node(
    "Execute InsertIntoHadoopFsRelationCommand",
    [node("WriteFiles", [node("WholeStageCodegen (2)", [node("Project", [node(
        "InputAdapter", [node("ArrowEvalPython", [node("WholeStageCodegen (1)", [
            node("InputAdapter", [node(
                "MapInPandas", [node("Scan ExistingRDD", numOutputRows=4.0)],
                pythonNumRowsReceived=600.0, pythonTotalTime=250.0)])],
            pipelineTime=100.0)], pythonTotalTime=80.0, pythonNumRowsReceived=600.0)])])],
        pipelineTime=130.0)])],
    numOutputRows=600.0, numFiles=32.0, numOutputBytes=5000.0,
    taskCommitTime=7.0, jobCommitTime=11.0,
)


def test_rollup_plan_layers():
    s = summarize([ROLLUP])
    assert s["sources.scan_rows"] == 1200.0
    assert s["sources.scan_bytes"] == 4000.0
    assert s["sources.scan_ms"] == 50.0
    assert (s["udf.rows"], s["udf.python_ms"], s["udf.boot_ms"], s["udf.init_ms"]) == (
        1200.0, 300.0, 5.0, 700.0)
    assert (s["udf.bytes_sent"], s["udf.bytes_received"]) == (2000.0, 100.0)
    assert s["codegen.pre_udf_ms"] == 900.0
    assert s["codegen.post_udf_ms"] == 500.0
    assert s["rollup.agg_ms"] == 42.0
    assert s["rollup.peak_mem_bytes"] == 3000.0
    assert (s["exchange.count"], s["exchange.records"], s["exchange.bytes"]) == (
        1.0, 16.0, 800.0)
    assert s["exchange.write_ms"] == 3.5
    assert s["exchange.empty"] == 0.0
    assert (s["pipeline.plan_nodes"], s["pipeline.exchanges"],
            s["pipeline.python_evals"]) == (15.0, 1.0, 1.0)


def test_write_plan_layers_and_local_rows_are_not_file_scans():
    s = summarize([WRITE, ROLLUP])
    assert s["sources.write_rows"] == 600.0
    assert s["sources.write_files"] == 32.0
    assert s["sources.write_bytes"] == 5000.0
    assert s["sources.write_commit_ms"] == 18.0
    assert s["sources.warc_chunks"] == 4.0
    assert s["sources.warc_records"] == 600.0
    assert s["sources.warc_python_ms"] == 250.0
    assert s["sources.scan_rows"] == 1200.0  # the chunk listing is not counted
    # counts over both executions; plan shape from the first (the write)
    assert s["udf.rows"] == 1800.0
    assert s["pipeline.exchanges"] == 0.0
    assert s["codegen.pre_udf_ms"] == 1000.0
    # the write stage consumes a Python eval; the stage above it does not
    assert s["codegen.post_udf_ms"] == 500.0 + 130.0


def test_empty_exchange_is_counted():
    s = summarize([node("Exchange", shuffleRecordsWritten=0.0)])
    assert (s["exchange.count"], s["exchange.empty"]) == (1.0, 1.0)
