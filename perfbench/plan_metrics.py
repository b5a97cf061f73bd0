"""Per-operator SQL metrics from Spark's executed physical plans.

``plan_tree`` copies an executed plan (through py4j) into plain dicts:
``{"name": str, "metrics": {key: value}, "children": [...]}`` with every
timing normalised to milliseconds. ``summarize`` then folds one job's trees
into layer metrics. Only ``plan_tree`` touches the JVM, so the fold is
tested on fixed trees.
"""

from __future__ import annotations

# SQLMetric types whose raw value is not already in the unit we report
_NS_TYPES = {"nsTiming"}

# Wrapper nodes whose real subtree sits behind a method other than children()
_AQE = "AdaptiveSparkPlan"
_STAGE_PREFIXES = ("ShuffleQueryStage", "BroadcastQueryStage", "ResultQueryStage",
                   "TableCacheQueryStage")


def _metrics(jnode) -> dict[str, float]:
    out = {}
    it = jnode.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        v = float(m.value())
        if m.metricType() in _NS_TYPES:
            v /= 1e6
        out[kv._1()] = v
    return out


def _seq(jseq) -> list:
    it = jseq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def plan_tree(jnode) -> dict:
    """Copy a (possibly adaptive) executed plan into dicts, unwrapping the
    adaptive root and query stages so the final plan's operators appear in
    place. Reused exchanges are kept as leaves: their work is counted once,
    at the exchange they reuse."""
    name = jnode.nodeName()
    if name == _AQE:
        return plan_tree(jnode.executedPlan())
    if name.startswith(_STAGE_PREFIXES):
        return plan_tree(jnode.plan())
    if name.startswith("ReusedExchange"):
        return {"name": name, "metrics": {}, "children": []}
    return {
        "name": name,
        "metrics": _metrics(jnode),
        "children": [plan_tree(c) for c in _seq(jnode.children())],
    }


def walk(tree: dict, parents: tuple = ()):
    """Yield (node, ancestors) in pre-order."""
    yield tree, parents
    for c in tree["children"]:
        yield from walk(c, parents + (tree,))


def _kind(name: str) -> str:
    if name.startswith("WholeStageCodegen"):
        return "codegen"
    if name in ("ArrowEvalPython", "BatchEvalPython"):
        return "python_eval"
    if name in ("MapInPandas", "MapInArrow"):
        return "map_in_pandas"
    if name == "Exchange":
        return "exchange"
    if name.endswith("HashAggregate"):
        return "hash_agg"
    if name in ("LocalTableScan", "Scan ExistingRDD", "Scan RDD"):
        return "local_scan"  # rows handed to Spark from Python, not a file scan
    if name.startswith("Scan ") or name.startswith("FileScan"):
        return "scan"
    if name.startswith("Execute InsertIntoHadoopFsRelation"):
        return "write"
    return "other"


def _python_fed(tree: dict) -> bool:
    """Whether a codegen stage consumes a Python eval directly, with no
    other codegen stage or exchange between them."""
    for c in tree["children"]:
        k = _kind(c["name"])
        if k == "python_eval" or (k not in ("codegen", "exchange") and _python_fed(c)):
            return True
    return False


def _nearest(parents: tuple, kinds: tuple) -> str | None:
    """Kind of the closest ancestor whose kind is one of ``kinds``."""
    for p in reversed(parents):
        k = _kind(p["name"])
        if k in kinds:
            return k
    return None


def _m(node: dict, key: str) -> float:
    return node["metrics"].get(key, 0.0)


def summarize(trees: list[dict]) -> dict[str, float]:
    """Fold one job's executed plans into layer metrics (sums over every
    execution of the job). The first tree is the job's main query: its
    node, exchange and Python-eval counts describe the plan the program
    built."""
    s: dict[str, float] = {
        k: 0.0
        for k in (
            "sources.scan_rows", "sources.scan_bytes", "sources.scan_ms",
            "sources.warc_chunks", "sources.warc_records", "sources.warc_python_ms",
            "sources.write_rows", "sources.write_files", "sources.write_bytes",
            "sources.write_commit_ms",
            "udf.rows", "udf.python_ms", "udf.boot_ms", "udf.init_ms",
            "udf.bytes_sent", "udf.bytes_received",
            "codegen.pre_udf_ms", "codegen.post_udf_ms",
            "rollup.agg_ms", "rollup.peak_mem_bytes", "rollup.spill_bytes",
            "exchange.count", "exchange.bytes", "exchange.records", "exchange.write_ms",
            "exchange.empty",
        )
    }
    for tree in trees:
        for node, parents in walk(tree):
            kind = _kind(node["name"])
            if kind == "scan":
                s["sources.scan_rows"] += _m(node, "numOutputRows")
                s["sources.scan_bytes"] += _m(node, "filesSize")
                s["sources.scan_ms"] += _m(node, "scanTime")
            elif kind == "map_in_pandas":
                s["sources.warc_records"] += _m(node, "pythonNumRowsReceived")
                s["sources.warc_python_ms"] += _m(node, "pythonTotalTime")
                for below, _ in walk(node):
                    if _kind(below["name"]) == "local_scan":
                        s["sources.warc_chunks"] += _m(below, "numOutputRows")
            elif kind == "write":
                s["sources.write_rows"] += _m(node, "numOutputRows")
                s["sources.write_files"] += _m(node, "numFiles")
                s["sources.write_bytes"] += _m(node, "numOutputBytes")
                s["sources.write_commit_ms"] += _m(node, "taskCommitTime") + _m(
                    node, "jobCommitTime"
                )
            elif kind == "python_eval":
                s["udf.rows"] += _m(node, "pythonNumRowsReceived")
                s["udf.python_ms"] += _m(node, "pythonTotalTime")
                s["udf.boot_ms"] += _m(node, "pythonBootTime")
                s["udf.init_ms"] += _m(node, "pythonInitTime")
                s["udf.bytes_sent"] += _m(node, "pythonDataSent")
                s["udf.bytes_received"] += _m(node, "pythonDataReceived")
            elif kind == "codegen":
                t = _m(node, "pipelineTime")
                if _nearest(parents, ("codegen", "python_eval", "exchange")) == "python_eval":
                    s["codegen.pre_udf_ms"] += t
                elif _python_fed(node):
                    # includes the time spent pulling rows out of the Python
                    # evals it consumes; subtracting their pythonTotalTime
                    # does not give a self time (it goes negative on real
                    # runs), so the two are reported side by side
                    s["codegen.post_udf_ms"] += t
            elif kind == "hash_agg":
                s["rollup.agg_ms"] += _m(node, "aggTime")
                s["rollup.peak_mem_bytes"] = max(
                    s["rollup.peak_mem_bytes"], _m(node, "peakMemory")
                )
                s["rollup.spill_bytes"] += _m(node, "spillSize")
            elif kind == "exchange":
                s["exchange.count"] += 1
                s["exchange.bytes"] += _m(node, "dataSize")
                s["exchange.records"] += _m(node, "shuffleRecordsWritten")
                s["exchange.write_ms"] += _m(node, "shuffleWriteTime")
                if _m(node, "shuffleRecordsWritten") == 0:
                    s["exchange.empty"] += 1
    if trees:
        nodes = [n for n, _ in walk(trees[0])]
        s["pipeline.plan_nodes"] = float(len(nodes))
        s["pipeline.exchanges"] = float(
            sum(_kind(n["name"]) == "exchange" for n in nodes))
        s["pipeline.python_evals"] = float(
            sum(_kind(n["name"]) == "python_eval" for n in nodes))
    return s
