"""The four workloads. Each one materialises its seeded inputs, runs passes
through the program's public entry points, checks the outputs of its
warm-up pass against the reference extractor or the repository's oracles,
and reports the per-layer numbers of its traced passes."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from collections import Counter
from typing import Dict, List, Tuple

from . import inputs, probes
from .trace import NULL_TRACER

Gate = Tuple[int, int, List[str]]  # (attempted, failed, problems)


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


class Workload:
    """Passes of work over one seeded input. ``rows`` is the number of
    input rows (turns or documents) one pass completes."""

    name = ""
    rows = 0
    kernel_stages: Tuple[str, ...] = ()  # kernel stages a pass runs per row
    extra_units: Dict[str, str] = {}  # per-layer metrics only this workload reports

    def __init__(self, spark, work_dir: str, seed: int, cores: int, seconds: float):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.cores = cores
        self.seconds = seconds
        self.warming = True  # until the timed window starts
        self.plans: List[Tuple[str, object]] = []  # traced actions, harvested later

    def generate(self) -> None:
        """Build the input columns in memory (timed as ``sources.synth_s``)."""
        raise NotImplementedError

    def materialise(self, out_dir: str) -> None:
        raise NotImplementedError

    def use_inputs(self, in_dir: str) -> None:
        self.in_dir = in_dir

    def add_inputs(self) -> None:
        """Inputs only the timed window reads, made once and not timed."""

    def sink(self, df, tracer, name: str, traced: bool) -> None:
        """Complete ``df``: a noop write, or in a traced pass the plan's own
        execution so its metrics can be read afterwards."""
        with tracer.span(name):
            if traced:
                plan = df._jdf.queryExecution().executedPlan()
                plan.execute().count()
                self.plans.append((name, plan))
            else:
                df.write.format("noop").mode("overwrite").save()

    def run_pass(self, tracer, traced: bool) -> float:
        """Run one pass; returns its wall seconds."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """One untimed pass (JIT, Python workers, kernel memos) that keeps
        the outputs ``gate`` checks."""
        raise NotImplementedError

    def gate(self) -> Gate:
        raise NotImplementedError

    def kernel_texts(self) -> Tuple[List[str], List[str]]:
        """``(warm-up texts, timed texts)`` of the kernel stage table."""
        return [], []

    def layer_metrics(self, tracer) -> Dict[str, float]:
        return {}

    def unattributed_share(self, tracer, wall: float, kernel_core_s: float,
                           cores: int) -> float:
        """Share of the traced pass wall time no layer accounts for; 0 where
        the workload does not model it."""
        return 0.0

    def harvests(self, name: str) -> Dict[str, float]:
        """Median over traced passes of each plan metric of action ``name``."""
        runs = [probes.harvest(plan) for n, plan in self.plans if n == name]
        return {k: _median(r[k] for r in runs) for k in runs[0]} if runs else {}


def check_extraction(out_rows: List[dict], cols: Dict[str, list], sample_every: int):
    """Every input turn has exactly one output row, none has
    ``metrics.failed``, and a deterministic sample is byte-equal to
    ``extract_turn``. Returns ``(failed turns, problems)``."""
    from htep_spark.reference import extract_turn

    keys = list(zip(cols["conv_id"], cols["turn_idx"]))
    got = Counter((r["conv_id"], r["turn_idx"]) for r in out_rows)
    bad = {k for k in keys if got[k] != 1}
    problems = [f"{len(bad)} turns missing or duplicated"] if bad else []
    if sum(got.values()) != len(keys):
        problems.append(f"{sum(got.values())} output rows for {len(keys)} input turns")
    by_key = {(r["conv_id"], r["turn_idx"]): r["result"] for r in out_rows}
    failed = {k for k, res in by_key.items() if res["metrics"]["failed"]}
    if failed:
        problems.append(f"{len(failed)} turns with metrics.failed")
    for i in range(0, len(keys), sample_every):
        k = keys[i]
        if k in by_key and probes.canonical(by_key[k]) != probes.canonical(
            extract_turn(cols["text"][i])
        ):
            bad.add(k)
            problems.append(f"turn {k} differs from extract_turn")
    return len(bad | failed), problems


def read_rows(path: str) -> List[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["conv_id", "turn_idx", "result"]).to_pylist()


class TranscriptsFull(Workload):
    """Full result struct over a default-mix corpus: every stage UDF and
    both Arrow crossings run; no shuffle.

    Every timed pass reads a part of the corpus no earlier pass read, as a
    job sees each turn once: the kernel's lookup memos then hit on the
    shared vocabulary only. The warm-up cycles over the first
    ``warm_parts`` parts; part 0 is its first pass, whose output the gate
    checks. The timed window's parts are enough for ``1.5 * seconds`` at
    ``fastest_pass_s``, the shortest pass seen on a 4-vCPU VM, which covers
    a traced run's two windows.
    """

    name = "transcripts_full"
    rows = 2400
    warm_parts = 3
    fastest_pass_s = 0.6
    files_per_part = 16
    kernel_stages = probes.STAGES
    mega_share, pareto_alpha = 0.2, 1.5

    def part(self, k: int) -> Dict[str, list]:
        return inputs.transcript_rows(self.seed, k, self.rows, self.mega_share, self.pareto_alpha)

    def write_part(self, cols: Dict[str, list], k: int, in_dir: str) -> None:
        inputs.write_parts(cols, os.path.join(in_dir, f"part-{k:03d}"),
                           self.files_per_part, inputs.TRANSCRIPT_ARROW_SCHEMA)

    def generate(self) -> None:
        self.parts = [self.part(k) for k in range(self.warm_parts)]
        self.cols = self.parts[0]

    def materialise(self, out_dir: str) -> None:
        for k, cols in enumerate(self.parts):
            self.write_part(cols, k, out_dir)

    def use_inputs(self, in_dir: str) -> None:
        self.in_dir = in_dir
        self.n_parts = self.warm_parts + math.ceil(1.5 * self.seconds / self.fastest_pass_s)
        self.warm_passes = self.passes = 0
        self.reused = 0  # passes that re-read a part because the run outlasted them

    def add_inputs(self) -> None:
        for k in range(self.warm_parts, self.n_parts):
            self.last_cols = self.part(k)
            self.write_part(self.last_cols, k, self.in_dir)

    def next_part(self) -> str:
        if self.warming:
            k = self.warm_passes % self.warm_parts
            self.warm_passes += 1
        else:
            k = self.passes
            self.passes += 1
            window = self.n_parts - self.warm_parts
            if k >= window:
                self.reused += 1
            k = self.warm_parts + k % window
        return os.path.join(self.in_dir, f"part-{k:03d}")

    def extraction(self, tracer, path: str):
        from htep_spark.plans.pipeline import run_extraction

        with tracer.span("sources.read"):
            t = self.spark.read.parquet(path)
        with tracer.span("plans.pipeline.run_extraction"):
            return run_extraction(t)

    def run_pass(self, tracer, traced: bool) -> float:
        t0 = time.perf_counter()
        self.sink(self.extraction(tracer, self.next_part()), tracer, "execute", traced)
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        self.out_dir = os.path.join(self.work, "warm-up-output")
        self.extraction(NULL_TRACER, self.next_part()).write.parquet(self.out_dir)
        self.run_pass(NULL_TRACER, traced=False)  # the noop sink's own code paths

    def gate(self) -> Gate:
        failed, problems = check_extraction(read_rows(self.out_dir), self.cols, 16)
        return self.rows, failed, problems

    def kernel_texts(self) -> Tuple[List[str], List[str]]:
        step = max(1, self.rows // 600)
        return self.parts[0]["text"][::step], self.last_cols["text"][::step]

    def layer_metrics(self, tracer) -> Dict[str, float]:
        return extract_layer(self.harvests("execute"))

    extra_attributed_s = 0.0

    def unattributed_share(self, tracer, wall, kernel_core_s, cores):
        """1 - (plan-building span self time + (kernel CPU + scan time +
        Python worker boot) / cores + rollup time) / pass wall."""
        h = self.harvests("execute")
        passes = len(tracer.durations("pass"))
        build = sum(tracer.self_time(s) for s in (
            "sources.read", "plans.pipeline.run_extraction",
            "plans.pipeline.per_conversation_metrics")) / passes
        busy = (kernel_core_s + h["scan_s"] + h["python_boot_s"]) / cores
        return 1 - (build + busy + self.extra_attributed_s) / wall


def extract_layer(h: Dict[str, float]) -> Dict[str, float]:
    """Arrow-boundary and scan metrics of one harvested action."""
    return {
        "extract.arrow_nodes": h["arrow_nodes"],
        "extract.udfs_evaluated": h["udfs"],
        "extract.bytes_sent": h["bytes_sent"],
        "extract.bytes_received": h["bytes_received"],
        "extract.bytes_per_turn": (h["bytes_sent"] + h["bytes_received"]) / max(1, h["rows"]),
        "extract.python_time_s": h["python_total_s"],
        "extract.python_init_s": h["python_init_s"],
        "sources.scan_bytes": h["scan_bytes"],
    }


class ConvMetrics(TranscriptsFull):
    """Salted per-conversation rollup over a heavily skewed corpus; Catalyst
    prunes every stage UDF but the core (decode + T7)."""

    name = "conv_metrics"
    rows = 3000
    kernel_stages = ("decode", "postprocess")
    mega_share, pareto_alpha = 0.35, 1.1

    def rollup(self, tracer, path: str):
        from htep_spark.plans.pipeline import per_conversation_metrics

        ext = self.extraction(tracer, path)
        with tracer.span("plans.pipeline.per_conversation_metrics"):
            return per_conversation_metrics(ext)

    def run_pass(self, tracer, traced: bool) -> float:
        t0 = time.perf_counter()
        self.sink(self.rollup(tracer, self.next_part()), tracer, "execute", traced)
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        self.out = self.rollup(NULL_TRACER, self.next_part()).collect()
        self.run_pass(NULL_TRACER, traced=False)

    def gate(self) -> Gate:
        expected = Counter(self.cols["conv_id"])
        got = {r["conv_id"]: r for r in self.out}
        problems, failed = [], 0
        for conv, n in expected.items():
            r = got.get(conv)
            if r is None or not r["ordered_ok"] or r["n_turns"] != n:
                problems.append(f"conversation {conv} rollup wrong")
                failed += n
            elif r["n_failed"]:
                problems.append(f"conversation {conv} has {r['n_failed']} failed turns")
                failed += r["n_failed"]
        if len(got) != len(self.out) or set(got) != set(expected):
            problems.append("rollup rows do not match the input conversations")
        return self.rows, failed, problems

    def layer_metrics(self, tracer) -> Dict[str, float]:
        from htep_spark.plans.pipeline import per_conversation_metrics

        h = self.harvests("execute")
        out = extract_layer(h)
        # the rollup alone, over an extraction pinned in memory
        pinned = self.extraction(NULL_TRACER, os.path.join(self.in_dir, "part-000")).persist()
        try:
            pinned.write.format("noop").mode("overwrite").save()
            aggs = []
            for _ in range(3):
                with tracer.span("plans.pipeline.per_conversation_metrics[pinned]") as s:
                    per_conversation_metrics(pinned).write.format("noop").mode("overwrite").save()
                aggs.append(s["end"] - s["start"])
        finally:
            pinned.unpersist(blocking=True)
        self.extra_attributed_s = _median(aggs)
        out.update({
            "pipeline.agg_s": self.extra_attributed_s,
            "pipeline.shuffle_bytes": h["shuffle_bytes"],
            "pipeline.shuffle_records": h["shuffle_records"],
            "pipeline.spill_bytes": h["spill_bytes"],
            "pipeline.stage1_groups": h["stage1_groups"],
        })
        return out


class CheckpointAppend(TranscriptsFull):
    """Checkpointed write path: half the input files, then the other half
    appended and a resume that must process exactly those."""

    name = "checkpoint_append"
    rows = 600
    fastest_pass_s = 1.2
    files_per_part = n_units = 2

    def use_inputs(self, in_dir: str) -> None:
        super().use_inputs(in_dir)
        self.calls: List[Tuple[dict, dict]] = []
        self.resume_walls: List[float] = []
        self.pending_walls: List[float] = []
        self.manifests: List[str] = []
        self.scan_bytes: List[int] = []

    def run_pass(self, tracer, traced: bool) -> float:
        from htep_spark.plans.checkpoint import pending_units, run_with_checkpoint

        part = self.next_part()
        units = sorted(os.path.join(part, f) for f in os.listdir(part))
        n = len(self.calls)
        base = os.path.join(self.work, f"ckpt-{n}")
        src, out, man = (os.path.join(base, d) for d in ("in", "out", "manifest"))
        os.makedirs(src)
        half = self.n_units // 2
        for path in units[:half]:
            shutil.copy(path, src)
        run_id = f"pass-{n}"
        t0 = time.perf_counter()
        with tracer.span("plans.checkpoint.run_with_checkpoint"):
            first = run_with_checkpoint(self.spark, src, out, man, run_id=run_id)
        wall = time.perf_counter() - t0
        for path in units[half:]:
            shutil.copy(path, src)
        if traced:
            with tracer.span("plans.checkpoint.pending_units") as s:
                pending_units(self.spark, src, man)
            self.pending_walls.append(s["end"] - s["start"])
            self.manifests.append(man)
            self.scan_bytes.append(sum(os.path.getsize(u) for u in units))
        t1 = time.perf_counter()
        with tracer.span("plans.checkpoint.resume"):
            second = run_with_checkpoint(self.spark, src, out, man, run_id=run_id)
        resume = time.perf_counter() - t1
        self.calls.append((first, second))
        self.resume_walls.append(resume)
        return wall + resume

    def warm_up(self) -> None:
        self.run_pass(NULL_TRACER, traced=False)
        self.checked = os.path.join(self.work, "ckpt-0")

    def gate(self) -> Gate:
        import pyarrow.parquet as pq

        half = self.n_units // 2
        problems = [
            f"checkpoint calls returned {first} then {second}"
            for first, second in self.calls
            if first != {"processed": half, "skipped": 0}
            or second != {"processed": self.n_units - half, "skipped": half}
        ]
        manifest = pq.read_table(os.path.join(self.checked, "manifest")).to_pylist()
        not_done = self.n_units - len({m["partition_id"] for m in manifest if m["status"] == "done"})
        if len(manifest) != self.n_units or not_done:
            problems.append(f"manifest has {len(manifest)} rows, {not_done} units not done")
        if sum(m["n_turns"] for m in manifest) != self.rows:
            problems.append("manifest n_turns does not sum to the input row count")
        out = os.path.join(self.checked, "out")
        rows = [r for d in sorted(os.listdir(out)) for r in read_rows(os.path.join(out, d))]
        failed, more = check_extraction(rows, self.cols, 8)
        return self.rows + self.n_units, failed + not_done, problems + more

    def unattributed_share(self, tracer, wall, kernel_core_s, cores):
        return 0.0

    def layer_metrics(self, tracer) -> Dict[str, float]:
        import pyarrow.parquet as pq

        unit_s = [m["wall_sec"] for man in self.manifests for m in pq.read_table(man).to_pylist()]
        out = os.path.join(os.path.dirname(self.manifests[-1]), "out")
        files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")]
        first, second = self.calls[-1]
        # the Arrow boundary of the extraction each unit writes
        self.sink(self.extraction(NULL_TRACER, os.path.join(self.in_dir, "part-000")),
                  tracer, "extract", traced=True)
        return {
            **extract_layer(self.harvests("extract")),
            "checkpoint.unit_s": _median(unit_s),
            "checkpoint.pending_s": _median(self.pending_walls),
            "checkpoint.resume_s": _median(self.resume_walls[-len(self.manifests):]),
            "checkpoint.units_processed": first["processed"] + second["processed"],
            "checkpoint.units_skipped": second["skipped"],
            "checkpoint.output_bytes": sum(os.path.getsize(f) for f in files),
            "checkpoint.output_files": len(files),
            "sources.scan_bytes": _median(self.scan_bytes),
        }


class DocsCuration(Workload):
    """The monolithic flagship UDF, the grouped-map conversation rollup and
    the two curation operators, back to back in one session."""

    name = "docs_curation"
    rows = 600
    n_sources = 12
    dup_share = 0.1
    SURFACES = ("flagship", "conv_rollup", "minhash_lsh", "winnow")
    extra_units = {
        "operators.persisted_rdds": "count",
        "operators.shuffle_bytes": "bytes",
        **{f"docs.{s}_s": "s" for s in SURFACES},
    }

    def generate(self) -> None:
        self.cols = inputs.document_rows(self.seed, self.rows, self.n_sources, self.dup_share)

    def materialise(self, out_dir: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(pa.table(self.cols, schema=inputs.DOCUMENT_ARROW_SCHEMA),
                       os.path.join(out_dir, "documents.parquet"))

    def surface_fns(self):
        import __spark_entry__ as entry
        from htep_spark.operators.dedup import q_minhash_lsh_fast
        from htep_spark.operators.text_analysis import q_winnow_fingerprints

        return dict(zip(self.SURFACES, (entry._flagship, entry._conv_rollup,
                                        q_minhash_lsh_fast, q_winnow_fingerprints)))

    def use_inputs(self, in_dir: str) -> None:
        self.in_dir = in_dir
        self.shuffle_bytes: List[int] = []

    def run_pass(self, tracer, traced: bool) -> float:
        shuffled = probes.executor_shuffle_write_bytes(self.spark) if traced else 0
        t0 = time.perf_counter()
        for name, build in self.surface_fns().items():
            with tracer.span(f"docs.{name}"):
                self.sink(build(self.spark, self.in_dir), tracer, f"docs.{name}.execute", traced)
        wall = time.perf_counter() - t0
        if traced:
            self.shuffle_bytes.append(probes.executor_shuffle_write_bytes(self.spark) - shuffled)
        return wall

    def warm_up(self) -> None:
        self.out = {name: build(self.spark, self.in_dir).toPandas()
                    for name, build in self.surface_fns().items()}

    def clinical_texts(self) -> Dict[int, str]:
        from htep_spark.driver_queries import CLINICAL_SNIPPETS

        return {d: CLINICAL_SNIPPETS[d % len(CLINICAL_SNIPPETS)] + "\n" + t
                for d, t in zip(self.cols["doc_id"], self.cols["text"])}

    def gate(self) -> Gate:
        from htep_spark.reference import extract_turn

        clinical = self.clinical_texts()
        bad_docs, problems = set(), []

        flagship = {r["conv_id"]: r for r in self.out["flagship"].to_dict("records")}
        for d, text in clinical.items():
            r, e = flagship.get(f"doc-{d}"), extract_turn(text)
            want = (0, e["document_type"], e["urgency"], "|".join(sorted(e["matched_drugs"])),
                    "|".join(sorted(e["matched_diseases"])), e["corrected_text"],
                    e["metrics"]["n_segments"])
            if r is None or (r["turn_idx"], r["document_type"], r["urgency"], r["matched_drugs"],
                             r["matched_diseases"], r["corrected_text"], r["n_segments"]) != want:
                bad_docs.add(d)
                problems.append(f"flagship row doc-{d} differs from extract_turn")
        if len(self.out["flagship"]) != self.rows:
            problems.append("flagship rows do not match the input documents")

        by_source: Dict[str, List[int]] = {}
        for d, s in zip(self.cols["doc_id"], self.cols["source"]):
            by_source.setdefault(s, []).append(d)
        rolled = {r["conv_id"]: r for r in self.out["conv_rollup"].to_dict("records")}
        smallest = min(by_source, key=lambda s: len(by_source[s]))
        for s, docs in by_source.items():
            r = rolled.get(s)
            if r is None or r["n_turns"] != len(docs) or (
                s == smallest and not _rollup_matches(r, docs, clinical)
            ):
                bad_docs.update(docs)
                problems.append(f"conv_rollup row {s} wrong")
        if set(rolled) != set(by_source):
            problems.append("conv_rollup rows do not match the input sources")

        pairs_oracle, fingerprints_oracle = self.oracles()
        pairs = set(zip(self.out["minhash_lsh"]["doc_a"], self.out["minhash_lsh"]["doc_b"]))
        for a, b in pairs ^ pairs_oracle:
            bad_docs.update((a, b))
            problems.append(f"minhash pair ({a}, {b}) disagrees with the md5 oracle")
        if not pairs_oracle:
            problems.append("the minhash oracle found no duplicate pairs")
        fps = Counter(zip(self.out["winnow"]["doc_id"], self.out["winnow"]["fingerprint"]))
        diff = list(((fps - fingerprints_oracle) + (fingerprints_oracle - fps)).elements())
        if diff:
            bad_docs.update(d for d, _ in diff)
            problems.append(f"winnow fingerprints differ from the oracle on {len(diff)} rows")
        return self.rows, len(bad_docs), problems

    def oracles(self):
        """The repository's DuckDB oracles of the md5-mode MinHash pairs and
        of the winnowing fingerprints, over the same documents file."""
        import duckdb

        from htep_spark.driver_queries import QUERIES

        path = os.path.join(self.in_dir, "documents.parquet").replace("'", "''")
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            pairs = {(a, b) for a, b, *_ in con.execute(QUERIES["minhash_lsh"][1]).fetchall()}
            fps = Counter(con.execute(QUERIES["winnow_fingerprints"][1]).fetchall())
        finally:
            con.close()
        return pairs, fps

    def kernel_texts(self) -> Tuple[List[str], List[str]]:
        texts = list(self.clinical_texts().values())
        texts = texts[:: max(1, len(texts) // 600)]
        return texts, texts  # every pass re-reads the same documents

    def layer_metrics(self, tracer) -> Dict[str, float]:
        out = extract_layer(self.harvests("docs.flagship.execute"))
        for name in self.SURFACES:
            out[f"docs.{name}_s"] = _median(tracer.durations(f"docs.{name}"))
        out["operators.persisted_rdds"] = probes.persisted_rdds(self.spark)
        out["operators.shuffle_bytes"] = _median(self.shuffle_bytes)
        return out


def _rollup_matches(r, docs: List[int], clinical: Dict[int, str]) -> bool:
    """Whether ``r`` is the rollup of ``docs`` recomputed from ``extract_turn``."""
    from htep_spark.reference import extract_turn

    rank = {"routine": 0, "high": 1, "urgent": 2}
    res = [extract_turn(clinical[d]) for d in sorted(docs)]

    def first(field):
        return next((x["extracted"][field] for x in res if x["extracted"][field]), None)

    def joined(values):
        return "|".join(sorted(set(values)))

    return (
        r["all_drugs"] == joined(t for x in res for t in x["matched_drugs"])
        and r["all_diseases"] == joined(t for x in res for t in x["matched_diseases"])
        and r["document_types"] == joined(x["document_type"] for x in res)
        and r["max_urgency"] == max((x["urgency"] for x in res), key=lambda u: rank.get(u, -1))
        and (r["patient_name"], r["doctor_name"], r["hospital"])
        == (first("patient_name"), first("doctor_name"), first("hospital"))
    )


WORKLOADS = {w.name: w for w in (TranscriptsFull, ConvMetrics, CheckpointAppend, DocsCuration)}
