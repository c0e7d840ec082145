"""The load-bearing invariant (SURVEY.md §5, north_star):

``spark_pipeline(turns) == [reference(t) for t in turns]`` byte-for-byte per
turn under stable ``(conv_id, turn_idx)`` ordering — plus the per-
conversation grouped stages (salted metrics, order validation) and the
checkpoint/resume protocol.
"""

from __future__ import annotations

import math
import os
import re
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from htep_spark.plans.checkpoint import run_with_checkpoint
from htep_spark.plans.pipeline import per_conversation_metrics, run_extraction, validate_turn_order
from htep_spark.reference import STAGES, extract_turn
from htep_spark.schema import TRANSCRIPT_SCHEMA
from htep_spark.sources.io import synthesize_transcripts, synthesize_transcripts_pdf

N_TURNS = 240


@pytest.fixture(scope="module")
def transcripts_pdf():
    return synthesize_transcripts_pdf(N_TURNS, n_convs=12)


@pytest.fixture(scope="module")
def transcripts(spark, transcripts_pdf):
    return spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA).cache()


def _normalize(value):
    """Recursively convert Spark Rows/arrays to plain Python for equality."""
    if hasattr(value, "asDict"):
        return {k: _normalize(v) for k, v in value.asDict().items()}
    if isinstance(value, list):
        return [_normalize(v) for v in value]
    if isinstance(value, dict):
        return {k: _normalize(v) for k, v in value.items()}
    if isinstance(value, float) and math.isnan(value):
        return None
    return value


def test_spark_equals_oracle_byte_for_byte(spark, transcripts, transcripts_pdf):
    result = (
        run_extraction(transcripts)
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    expected = transcripts_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(result) == len(expected)
    for row, (_, exp) in zip(result, expected.iterrows()):
        assert row["conv_id"] == exp["conv_id"]
        assert row["turn_idx"] == exp["turn_idx"]
        oracle = extract_turn(exp["text"])
        got = _normalize(row["result"])
        # struct-wise comparison with exact string equality per field
        assert got == _normalize(oracle), (
            f"mismatch at {row['conv_id']}/{row['turn_idx']}"
        )


def test_distributed_synthesis_matches_driver_synthesis(spark, transcripts_pdf):
    dist = (
        synthesize_transcripts(spark, N_TURNS, n_convs=12, partitions=7)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    exp = transcripts_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert dist["text"].tolist() == exp["text"].tolist()
    assert dist["conv_id"].tolist() == exp["conv_id"].tolist()


def test_per_conversation_metrics_and_salting(spark, transcripts):
    extracted = run_extraction(transcripts)
    # tiny salt bucket forces multi-bucket merge even on small fixtures
    metrics = per_conversation_metrics(extracted, bucket_size=5).collect()
    by_conv = {m["conv_id"]: m for m in metrics}
    # conv-000000 is the mega conversation (~20% of turns)
    assert by_conv["conv-000000"]["n_turns"] == 48
    assert all(m["ordered_ok"] for m in metrics)
    total = sum(m["n_turns"] for m in metrics)
    assert total == N_TURNS
    assert validate_turn_order(extracted, bucket_size=5)


def test_order_validation_catches_gaps(spark, transcripts):
    from pyspark.sql import functions as F

    broken = transcripts.filter(
        ~((F.col("conv_id") == "conv-000001") & (F.col("turn_idx") == 3))
    )
    assert not validate_turn_order(run_extraction(broken), bucket_size=5)


def test_checkpoint_resume(spark, transcripts_pdf, tmp_path):
    input_dir = str(tmp_path / "input")
    out_dir = str(tmp_path / "out")
    manifest_dir = str(tmp_path / "manifest")
    # write input as several parquet files (work units)
    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    df.repartition(4).write.mode("overwrite").parquet(input_dir)

    first = run_with_checkpoint(spark, input_dir, out_dir, manifest_dir, "run-a")
    assert first["processed"] >= 4
    assert first["skipped"] == 0

    # resume: everything already done → nothing reprocessed
    second = run_with_checkpoint(spark, input_dir, out_dir, manifest_dir, "run-b")
    assert second["processed"] == 0
    assert second["skipped"] == first["processed"]

    # output completeness: all turns present exactly once
    out = spark.read.parquet(out_dir + "/part-*")
    assert out.count() == len(transcripts_pdf)
    manifest = spark.read.parquet(manifest_dir)
    assert manifest.filter("status = 'done'").count() == first["processed"]
    assert manifest.agg({"n_turns": "sum"}).collect()[0][0] == len(transcripts_pdf)


def test_compact_output(spark, transcripts_pdf, tmp_path):
    """Small-files compaction: row-set preserved exactly, file count drops
    to the bin-packed group count, plan/manifest deterministic, oversized
    parts pass through, re-run idempotent."""
    from htep_spark.plans.compact import compact_output, plan_groups

    src = str(tmp_path / "many_parts")
    dst = str(tmp_path / "compacted")
    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    df.repartition(8).write.mode("overwrite").parquet(src)

    part_sizes = [
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    ]
    assert len(part_sizes) == 8
    target = sum(part_sizes) // 3  # force ~3-4 groups
    groups = plan_groups(src, target)
    assert 1 < len(groups) < 8
    assert plan_groups(src, target) == groups  # deterministic plan
    # tiny target: every file its own group (oversized pass-through)
    assert len(plan_groups(src, 1)) == 8

    result = compact_output(spark, src, dst, target_bytes=target)
    assert result["n_files_in"] == 8
    assert result["n_groups"] == len(groups)
    assert result["n_rows"] == len(transcripts_pdf)
    out = spark.read.parquet(dst)
    assert out.count() == len(transcripts_pdf)
    # row-set equality, not just counts
    key = F.concat_ws("#", "conv_id", "turn_idx")
    assert (
        sorted(r[0] for r in out.select(key).collect())
        == sorted(r[0] for r in df.select(key).collect())
    )
    # one data file per group
    n_parts = sum(
        1
        for root, _d, names in os.walk(dst)
        for n in names
        if n.endswith(".parquet") and not n.startswith(".")
    )
    assert n_parts == len(groups)
    # idempotent re-run (overwrite per group)
    again = compact_output(spark, src, dst, target_bytes=target)
    assert again["n_rows"] == result["n_rows"]
    assert spark.read.parquet(dst).count() == len(transcripts_pdf)
    # no Hive partition-column inference: compacted schema == the input's
    # on-disk schema (parquet drops nullable=False on both sides equally)
    assert spark.read.parquet(dst).schema == spark.read.parquet(src).schema
    # re-plan with fewer groups must remove stale group dirs, not
    # duplicate rows (review r04 finding)
    big = compact_output(spark, src, dst, target_bytes=sum(part_sizes) * 2)
    assert big["n_groups"] == 1
    assert spark.read.parquet(dst).count() == len(transcripts_pdf)


def test_extraction_plan_is_narrow(spark, transcripts):
    """The hot path must stay shuffle-free with pruned input columns."""
    plan = (
        run_extraction(transcripts.select("*"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan


def test_job_entrypoint_checkpoint_and_resume(spark, transcripts_pdf, tmp_path):
    import job

    input_dir = str(tmp_path / "jin")
    out_dir = str(tmp_path / "jout")
    spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA).repartition(
        3
    ).write.parquet(input_dir)
    rc = job.main(
        ["--input", input_dir, "--output", out_dir, "--conv-metrics"]
    )
    assert rc == 0
    out = spark.read.parquet(out_dir + "/part-*")
    assert out.count() == len(transcripts_pdf)
    metrics = spark.read.parquet(out_dir + "_conv_metrics")
    assert metrics.filter("NOT ordered_ok").count() == 0
    # second invocation resumes: nothing reprocessed
    rc = job.main(["--input", input_dir, "--output", out_dir])
    assert rc == 0
    from htep_spark.plans.checkpoint import plan_units

    manifest = spark.read.parquet(out_dir + "_manifest")
    assert manifest.count() == len(plan_units(input_dir))  # each unit once


def test_conversation_rollup(spark, transcripts):
    from htep_spark.operators.conversation import conversation_rollup

    records = {
        r["conv_id"]: r
        for r in conversation_rollup(run_extraction(transcripts)).collect()
    }
    assert len(records) == 12
    mega = records["conv-000000"]
    assert mega["n_turns"] == 48
    assert mega["all_drugs"]  # clinical payloads guarantee drug mentions
    assert mega["max_urgency"] in ("routine", "high", "urgent")
    assert mega["patient_name"]  # earliest non-null patient wins
    # determinism across runs
    again = {
        r["conv_id"]: r
        for r in conversation_rollup(run_extraction(transcripts)).collect()
    }
    assert {k: v.asDict() for k, v in records.items()} == {
        k: v.asDict() for k, v in again.items()
    }


def test_sql_function_registration(spark, transcripts):
    from htep_spark.functions.register import register_all

    register_all(spark)
    transcripts.createOrReplaceTempView("transcripts_v")
    row = spark.sql(
        "SELECT htep_fusion('he 0K l1') AS f, "
        "htep_extract(text).document_type AS dt, "
        "htep_simhash(text) AS sh "
        "FROM transcripts_v WHERE turn_idx = 0 LIMIT 1"
    ).collect()[0]
    assert row["f"] == "he OK ll"
    assert row["dt"] is not None
    assert isinstance(row["sh"], int)


def test_checkpoint_crash_between_data_and_manifest(spark, transcripts_pdf, tmp_path):
    """Crash simulation: a unit whose output was written but whose manifest
    row never committed must be re-processed idempotently on resume."""
    from htep_spark.plans.checkpoint import plan_units, run_with_checkpoint

    input_dir = str(tmp_path / "cin")
    out_dir = str(tmp_path / "cout")
    manifest_dir = str(tmp_path / "cmanifest")
    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    df.repartition(3).write.parquet(input_dir)

    first = run_with_checkpoint(spark, input_dir, out_dir, manifest_dir, "run-a")
    total = spark.read.parquet(out_dir + "/part-*").count()

    # simulate the crash window: drop ONE manifest row (rewrite without it)
    units = plan_units(input_dir)
    victim = units[0]["partition_id"]
    manifest = spark.read.parquet(manifest_dir)
    kept = manifest.filter(manifest.partition_id != victim).collect()
    shutil.rmtree(manifest_dir)
    if kept:
        spark.createDataFrame(kept, manifest.schema).write.parquet(manifest_dir)

    second = run_with_checkpoint(spark, input_dir, out_dir, manifest_dir, "run-b")
    assert second["processed"] == 1  # only the victim re-ran
    # idempotent: same totals, no duplicates
    assert spark.read.parquet(out_dir + "/part-*").count() == total
    assert (
        spark.read.parquet(manifest_dir).filter("status='done'").count()
        == first["processed"]
    )


def _spark_jobs(spark, fn):
    """Run ``fn`` under its own job group; return (result, jobs launched)."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4()}"
    sc.setJobGroup(group, "job count")
    try:
        result = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _split_input(spark, transcripts_pdf, tmp_path):
    """Two input files: the first in ``in``, the path of the second held back."""
    staged, input_dir = str(tmp_path / "staged"), str(tmp_path / "in")
    spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA).repartition(
        2
    ).write.parquet(staged)
    files = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    os.makedirs(input_dir)
    shutil.copy(os.path.join(staged, files[0]), input_dir)
    return input_dir, os.path.join(staged, files[1])


def test_checkpoint_bookkeeping_launches_no_spark_job(spark, transcripts_pdf, tmp_path):
    """Manifest reads and appends run on the driver: a unit launches only
    its own jobs (input schema read, observed write), and a resume with
    nothing pending launches none."""
    input_dir, later = _split_input(spark, transcripts_pdf, tmp_path)
    out_dir, manifest_dir = str(tmp_path / "out"), str(tmp_path / "manifest")
    run_with_checkpoint(spark, input_dir, out_dir, manifest_dir, "run-a")
    stats, jobs = _spark_jobs(
        spark, lambda: run_with_checkpoint(spark, input_dir, out_dir, manifest_dir, "run-b")
    )
    assert stats == {"processed": 0, "skipped": 1}
    assert jobs == 0
    shutil.copy(later, input_dir)
    stats, jobs = _spark_jobs(
        spark, lambda: run_with_checkpoint(spark, input_dir, out_dir, manifest_dir, "run-b")
    )
    assert stats == {"processed": 1, "skipped": 1}
    assert jobs == 2


def test_checkpoint_manifest_driver_append(spark, transcripts_pdf, tmp_path):
    """The driver-written manifest keeps Spark's schema, skips a temp file
    left by a crash mid-append, and treats an empty dir as nothing done."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from htep_spark.plans.checkpoint import (
        MANIFEST_COLUMNS,
        MANIFEST_SCHEMA,
        pending_units,
        plan_units,
    )

    input_dir, later = _split_input(spark, transcripts_pdf, tmp_path)
    out_dir, manifest_dir = str(tmp_path / "out"), str(tmp_path / "manifest")
    os.makedirs(manifest_dir)
    assert pending_units(spark, input_dir, manifest_dir) == plan_units(input_dir)

    run_with_checkpoint(spark, input_dir, out_dir, manifest_dir, "run-a")
    manifest = spark.read.parquet(manifest_dir)
    assert manifest.columns == MANIFEST_COLUMNS
    assert [f.dataType.simpleString() for f in manifest.schema] == (
        ["string"] * 4 + ["bigint"] * 5 + ["double", "string"]
    )
    (row,) = manifest.collect()
    assert row["n_turns"] == sum(
        pq.read_metadata(u["input_file"]).num_rows for u in plan_units(input_dir)
    )
    assert row["wall_sec"] >= 0
    assert re.fullmatch(r"\d{4}-\d\d-\d\dT\d\d:\d\d:\d\dZ", row["finished_at"])

    # a crash mid-append leaves a dot-prefixed temp file, here holding a
    # "done" row for the held-back unit: neither reader may see it
    (held_back,) = plan_units(later)
    stray = {**row.asDict(), **held_back}
    pq.write_table(
        pa.Table.from_pylist([stray], schema=MANIFEST_SCHEMA),
        os.path.join(manifest_dir, f".part-{held_back['partition_id']}-0.parquet.tmp"),
    )
    assert spark.read.parquet(manifest_dir).count() == 1
    shutil.copy(later, input_dir)
    (pending,) = pending_units(spark, input_dir, manifest_dir)
    assert pending["partition_id"] == held_back["partition_id"]


def test_job_rejects_hive_partitioned_input(spark, transcripts_pdf, tmp_path):
    """A ``key=value/`` input dir has no top-level unit: the job must fail
    loudly instead of reporting ok over zero units. An empty dir is still
    zero units."""
    import job
    from htep_spark.plans.checkpoint import plan_units

    input_dir = str(tmp_path / "hive")
    spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA).write.partitionBy(
        "role"
    ).parquet(input_dir)
    with pytest.raises(ValueError, match="hive-partitioned"):
        job.main(["--input", input_dir, "--output", str(tmp_path / "hout")])
    os.makedirs(tmp_path / "empty")
    assert plan_units(str(tmp_path / "empty")) == []


# One turn of each payload route, plus the empty and null edge cases.
_FAULT_TEXTS = [
    "Patient has diabete5 and takes asp1rin daily\nBP: 120/80",
    "<html><body><nav>Home | Contact</nav><main><p>Discharge summary."
    " Diagnosis: hypertension. Rx: amlodipine 5mg once daily.</p></main>"
    "</body></html>",
    "```\nPrescription: metformin 500mg twice daily for diabetes\n```",
    "",
    None,
]


def _raising(stage_name):
    # a nested function is pickled by value, so it reaches the Python
    # workers inside the UDF closures without being importable there
    def boom(value):
        raise RuntimeError(f"injected {stage_name} fault")

    return boom


def _at(result, path):
    for name in path.split("."):
        result = result[name]
    return result


@pytest.mark.parametrize("stage_name", [s.name for s in STAGES])
def test_stage_fault_isolation_agrees_across_surfaces(
    spark, tmp_path, monkeypatch, stage_name
):
    """One stage raises on every turn. The batch split (``run_extraction``),
    the flagship row UDF, streaming and the SQL-registered ``htep_extract``
    must all give the rows of the in-process fold, in which only the
    raising stage fell back to its default: ``metrics.failed`` is set by a
    core fault alone, and every other stage's fields are untouched by a
    downstream fault. The raising stage reaches the workers through
    ``extraction_udfs``, the factory of the production UDFs."""
    from htep_spark.functions.register import register_all
    from htep_spark.operators import extract
    from htep_spark.streaming import stream

    stages = tuple(
        s._replace(fn=_raising(s.name)) if s.name == stage_name else s
        for s in STAGES
    )
    expected = {f"c{i}": extract_turn(t, stages) for i, t in enumerate(_FAULT_TEXTS)}
    for cid, text in zip(expected, _FAULT_TEXTS):
        got, clean = expected[cid], extract_turn(text)
        assert got["metrics"]["failed"] is (stage_name == "core")
        if stage_name == "core":
            assert got["metrics"]["error"] == "RuntimeError: injected core fault"
            continue
        for s in STAGES:
            if s.name != stage_name:
                for path in s.fields:
                    assert _at(got, path) == _at(clean, path), (cid, path)

    for name, udf in extract.extraction_udfs(stages).items():
        monkeypatch.setattr(extract, name, udf)
    monkeypatch.setattr(stream, "extract_turn_udf", extract.extract_turn_udf)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(cid, 0, "user", t, "", None) for cid, t in zip(expected, _FAULT_TEXTS)],
        TRANSCRIPT_SCHEMA,
    ).write.parquet(src)
    turns = spark.read.parquet(src)
    try:
        register_all(spark)
        turns.createOrReplaceTempView("fault_turns")
        sql = spark.sql("SELECT conv_id, htep_extract(text) AS result FROM fault_turns")
        query = (
            stream.stream_extraction(spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src))
            .writeStream.format("memory")
            .queryName(f"fault_{stage_name}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination(120)
        streamed = spark.table(f"fault_{stage_name}")
        for surface in (run_extraction(turns), sql, streamed):
            got = {r["conv_id"]: _normalize(r["result"]) for r in surface.collect()}
            assert got == expected
        flagship = turns.select("conv_id", extract.flagship_row_udf(F.col("text")).alias("r"))
        for r in flagship.collect():
            exp = expected[r["conv_id"]]
            assert _normalize(r["r"]) == {
                "document_type": exp["document_type"],
                "urgency": exp["urgency"],
                "matched_drugs": exp["matched_drugs"],
                "matched_diseases": exp["matched_diseases"],
                "corrected_text": exp["corrected_text"],
                "n_segments": exp["metrics"]["n_segments"],
            }
    finally:
        monkeypatch.undo()
        register_all(spark)
