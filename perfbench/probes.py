"""Measurement probes: process-tree CPU/RSS from ``/proc``, JVM counters
over py4j, Spark plan metrics, and the per-stage kernel CPU table."""

from __future__ import annotations

import json
import os
import threading
import time
from typing import Dict, Iterator, List

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> List[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


class ProcTree:
    """CPU and resident memory of this process and all its descendants
    (the JVM and its Python workers). With ``sample_rss`` one sampler
    thread records the peak of ``rss_bytes``; CPU is read on demand.

    A sample costs about 10 ms of CPU on a 0.5 GiB JVM and more as the heap
    grows, so runs that do not report the peak leave the sampler off."""

    def __init__(self, sample_rss: bool = True, interval_s: float = 0.1):
        self.root = os.getpid()
        self.sample_rss = sample_rss
        self.interval_s = interval_s
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, name="proc-sampler", daemon=True)

    def pids(self) -> List[int]:
        children: Dict[int, List[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                ppid = int(_stat_fields(int(entry))[1])
            except (OSError, ValueError, IndexError):
                continue  # process ended while listing
            children.setdefault(ppid, []).append(int(entry))
        tree, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(children.get(pid, ()))
        return tree

    def cpu_s(self) -> float:
        """utime+stime of live processes plus the reaped children each one
        accounts for (cutime+cstime), in seconds."""
        ticks = 0
        for pid in self.pids():
            try:
                f = _stat_fields(pid)
            except OSError:
                continue
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        return ticks / _TICKS

    def rss_bytes(self) -> int:
        """Resident memory of the tree with shared pages counted once (the
        sum of PSS): a forked Python worker, or a JVM child between fork and
        exec, would otherwise count its parent's pages a second time."""
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, self.rss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "ProcTree":
        if self.sample_rss:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self.sample_rss:
            self._thread.join(timeout=5)


def host_cpu_ticks() -> List[int]:
    """``[steal, total]`` CPU ticks of the whole machine since boot: other
    tenants' load shows as steal time."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return [ticks[7], sum(ticks)]


def fixed_work_ms() -> float:
    """CPU milliseconds of a fixed pure-Python loop (median of three): on a
    shared machine it rises when other tenants slow this one down, which
    steal time does not always show."""
    times = []
    for _ in range(3):
        t0 = time.process_time()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        times.append(time.process_time() - t0)
    return sorted(times)[1] * 1e3


def jvm_gc_s(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


def executor_shuffle_write_bytes(spark) -> int:
    """Cumulative shuffle bytes written by the local executor, including
    jobs that building a DataFrame runs eagerly (``localCheckpoint``)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    return int(store.executorSummary("driver").totalShuffleWrite())


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


# --------------------------------------------------------------------------
# Plan metrics
# --------------------------------------------------------------------------

_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _plan_nodes(plan) -> Iterator:
    """Physical nodes of an executed plan, looking through AQE wrappers."""
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its metrics belong to the exchange it reuses
        yield node
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


def _metrics(node) -> Dict[str, float]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metric = kv._2()
        out[kv._1()] = metric.value() * _SCALE.get(metric.metricType(), 1)
    return out


def harvest(plan) -> Dict[str, float]:
    """Sum the metrics of an executed physical plan by layer. The plan must
    be the one that ran: a noop write runs a different QueryExecution, so
    the DataFrame's own plan would read 0."""
    h = dict.fromkeys(
        ("arrow_nodes", "udfs", "bytes_sent", "bytes_received", "python_total_s",
         "python_init_s", "python_boot_s", "python_rows", "shuffle_bytes",
         "shuffle_records", "shuffle_write_s", "spill_bytes", "scan_bytes",
         "scan_s", "rows"), 0.0)
    salt_groups = []
    for node in _plan_nodes(plan):
        name = node.nodeName()
        m = _metrics(node)
        if name == "ArrowEvalPython":
            h["arrow_nodes"] += 1
            h["udfs"] += node.udfs().size()
            h["bytes_sent"] += m.get("pythonDataSent", 0)
            h["bytes_received"] += m.get("pythonDataReceived", 0)
            h["python_total_s"] += m.get("pythonTotalTime", 0)
            h["python_init_s"] += m.get("pythonInitTime", 0)
            h["python_boot_s"] += m.get("pythonBootTime", 0)
            h["python_rows"] += m.get("pythonNumRowsReceived", 0)
        elif name == "Exchange":
            h["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
            h["shuffle_records"] += m.get("shuffleRecordsWritten", 0)
            h["shuffle_write_s"] += m.get("shuffleWriteTime", 0)
        elif name in ("HashAggregate", "ObjectHashAggregate", "SortAggregate"):
            h["spill_bytes"] += m.get("spillSize", 0)
            keys = node.groupingExpressions().toString()
            if "salt" in keys and "turn_idx" not in keys:
                salt_groups.append(m.get("numOutputRows", 0))
        elif name == "Sort":
            h["spill_bytes"] += m.get("spillSize", 0)
        elif name.startswith("Scan"):
            h["rows"] += m.get("numOutputRows", 0)
            h["scan_bytes"] += m.get("filesSize", 0)
            h["scan_s"] += m.get("scanTime", 0)
    # the final (conv_id, salt) aggregate emits each stage-1 group once;
    # partial aggregates emit at least as many rows
    h["stage1_groups"] = min(salt_groups) if salt_groups else 0
    return h


# --------------------------------------------------------------------------
# Kernel stage table
# --------------------------------------------------------------------------

STAGES = ("decode", "postprocess", "segments", "fields", "classify", "entities", "deid")


def _composed_turn(text, clock: Dict[str, float]) -> Dict:
    """``reference.extract_turn``'s chain, stage by stage through the public
    stage functions, adding each stage's CPU time to ``clock``."""
    from htep_spark import reference as ref
    from htep_spark.dictionaries import (
        DISEASE_SET, DISEASES_MULTI, DISEASES_SINGLE, DRUG_SET, DRUGS_MULTI,
        DRUGS_SINGLE,
    )
    from htep_spark.functions.classify import (
        classify_document, document_urgency, extract_medical_entities,
    )
    from htep_spark.functions.deid import deidentify
    from htep_spark.functions.extract_fields import extract_record
    from htep_spark.functions.segments import segment_document
    from htep_spark.functions.textops import postprocess

    cpu = time.process_time
    t0 = cpu()
    content, kind, kept, dropped = ref.decode_payload(text)
    final = content.strip()
    t1 = cpu()
    post = postprocess(final, DRUGS_SINGLE, DRUGS_MULTI, DRUG_SET, DISEASES_SINGLE,
                       DISEASES_MULTI, DISEASE_SET, 85.0, ref._DRUG_MEMO, ref._DISEASE_MEMO)
    corrected = post["corrected_text"] if final else ""
    t2 = cpu()
    segments = segment_document(content)
    t3 = cpu()
    extracted = extract_record(final) if final else {}
    if extracted:
        vit = extracted.get("vitals") or {}
        extracted["vitals"] = {k: vit.get(k) for k in ("bp", "temp", "pulse")}
    else:
        extracted = ref._empty_extracted()
    t4 = cpu()
    cls = classify_document(corrected)
    urgency, urgency_conf = document_urgency(corrected)
    t5 = cpu()
    entities = extract_medical_entities(corrected)
    t6 = cpu()
    deid = deidentify(final)
    t7 = cpu()
    for stage, (a, b) in zip(STAGES, ((t0, t1), (t1, t2), (t2, t3), (t3, t4),
                                      (t4, t5), (t5, t6), (t6, t7))):
        clock[stage] += b - a
    corrections = [{"from": c["from"], "to": c["to"], "type": c["type"],
                    "score": int(c["score"])} for c in post["corrections"]]
    return {
        "payload_kind": kind, "content": content, "final_text": final,
        "corrected_text": corrected, "corrections": corrections,
        "matched_drugs": post["matched_drugs"],
        "matched_diseases": post["matched_diseases"], "segments": segments,
        "extracted": extracted, "document_type": cls["document_type"],
        "doc_confidence": float(cls["confidence"]),
        "keywords_found": cls["keywords_found"],
        "secondary_types": cls["secondary_types"], "urgency": urgency,
        "urgency_confidence": float(urgency_conf), "entities": entities,
        "deid": deid,
        "metrics": {"blocks_kept": kept, "blocks_dropped": dropped,
                    "n_segments": len(segments), "n_corrections": len(corrections),
                    "content_chars": len(content), "failed": False, "error": None},
    }


def stage_table(warm_texts: List[str], texts: List[str]) -> Dict[str, float]:
    """Per-turn CPU microseconds of each kernel stage over ``texts``, in one
    process, after ``warm_texts`` warmed the lookup memos: the steady state
    of a job that sees each turn once. Raises if the composed chain differs
    from ``extract_turn`` on any turn, so the table times the real chain."""
    from htep_spark.reference import extract_turn

    for text in warm_texts:
        _composed_turn(text, dict.fromkeys(STAGES, 0.0))
    clock = dict.fromkeys(STAGES, 0.0)
    composed = [_composed_turn(text, clock) for text in texts]
    for text, result in zip(texts, composed):
        if canonical(result) != canonical(extract_turn(text)):
            raise AssertionError("stage chain differs from extract_turn")
    table = {s: clock[s] / len(texts) * 1e6 for s in STAGES}
    table["total"] = sum(table.values())
    return table


def canonical(value) -> str:
    """Byte form used for every equality check: Spark Rows and plain dicts
    serialise to the same sorted-key JSON."""
    return json.dumps(_plain(value), sort_keys=True, ensure_ascii=False)


def _plain(value):
    if hasattr(value, "asDict"):
        value = value.asDict()
    if isinstance(value, dict):
        return {k: _plain(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_plain(v) for v in value]
    return value
