"""Arrow-vectorized extraction operators (the UDF surface).

Design (SURVEY.md §2.7 "UDF/UDAF/UDTF surface"): every per-turn operator is
a pandas UDF — the Arrow batch is the unit of vectorization, generalizing
the reference's own batching fix (``BlockICREngine._batch_predict_chars``,
``src/recognition/icr_block_engine.py:162-195``, which exists precisely
because per-item dispatch was too slow). No row-at-a-time Python UDF
anywhere (BASELINE.json ``input_hint``: "no per-row Python").

Round 7 (optimization guide §4.1 "pass only the columns the function
needs"): the per-turn chain is SPLIT into one pandas UDF per stage of
``reference.STAGES`` — core decode+dictionary-correction, segmentation,
field extraction, classification, entity scan, de-identification — each
generated from its table row (input field, function, default, result
fields and therefore Spark return type), and recomposed into the same
``EXTRACTION_RESULT_TYPE`` struct with plain column references, so
Catalyst's ``SimplifyExtractValueOps`` + column pruning DROP the stage
UDFs a downstream query never reads (e.g. ``per_conversation_metrics``
consumes only core-stage fields → the fields/classify/entities/deid
kernels — ~60% of per-turn CPU — are never evaluated; verified by
``tests/test_plan_quality.py::test_stage_udf_pruning`` and
``plans/r07/conv_metrics_after.txt``). Equal UDF expressions are
deduplicated by ``ExtractPythonUDFs`` (evaluated once), and the full-struct
query runs every stage exactly once in two ArrowEvalPython nodes.

Stage isolation is the one rule of ``reference.run_stage`` on every
surface (``app/api.py:215-293``): each stage catches its own failure and
returns its default, downstream stages read whatever their upstream
returned, and ``metrics.failed``/``metrics.error`` report the core stage
only. The split UDFs and the whole-turn ``extract_turn_udf`` /
``flagship_row_udf`` therefore agree row for row even when a stage raises
(``tests/test_spark_pipeline.py::test_stage_fault_isolation_agrees_across_surfaces``,
``tests/test_spark_pipeline.py::test_spark_equals_oracle_byte_for_byte``,
``tests/test_golden.py``).

The per-worker memo tables (module-level in ``reference``/``textops``)
amortize across every batch the worker ever sees. Per-turn extraction is
embarrassingly parallel — the plan stays narrow (scan → project), no
shuffle in the hot path.
"""

from __future__ import annotations

from typing import Dict, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..reference import STAGES, Stage, extract_turn, run_stage
from ..schema import EXTRACTION_RESULT_TYPE

__all__ = [
    "extract_turn_udf",
    "extract_transcripts",
    "extraction_udfs",
    "deid_udf",
]

FLAGSHIP_ROW_TYPE = StructType(
    [
        StructField("document_type", StringType(), True),
        StructField("urgency", StringType(), True),
        StructField("matched_drugs", ArrayType(StringType()), True),
        StructField("matched_diseases", ArrayType(StringType()), True),
        StructField("corrected_text", StringType(), True),
        StructField("n_segments", IntegerType(), True),
    ]
)


def _result_field(path: str) -> StructField:
    """The ``EXTRACTION_RESULT_TYPE`` field at a dotted ``path``."""
    dtype = EXTRACTION_RESULT_TYPE
    for name in path.split("."):
        field = dtype[name]
        dtype = field.dataType
    return field


def _udf_name(stage: Stage) -> str:
    return "extract_core_udf" if stage.name == "core" else f"{stage.name}_udf"


def _stage_udf(stage: Stage):
    """Scalar pandas UDF ``stage.reads`` → the stage's fields: a struct of
    them, or the field's own type when the stage fills one field."""
    fields = [_result_field(path) for path in stage.fields]
    single = fields[0].name if len(fields) == 1 else None

    def udf(values: pd.Series) -> pd.DataFrame:
        # scalar (non-iterator) form: independent scalar pandas UDFs combine
        # into ONE ArrowEvalPython node (one Python worker, one row queue per
        # task) — iterator-form UDFs each get their own node, and six chained
        # nodes cost ~45% extra wall on the full-struct path (BENCH/r07 notes)
        outs = [run_stage(stage, v if isinstance(v, str) else "") for v in values]
        return pd.DataFrame([o[single] for o in outs] if single else outs)

    udf.__name__ = _udf_name(stage)
    return F.pandas_udf(fields[0].dataType if single else StructType(fields))(udf)


def extraction_udfs(stages: Tuple[Stage, ...]) -> Dict[str, object]:
    """Every extraction pandas UDF over one stage table, keyed by name: one
    per stage, plus ``extract_turn_udf`` and ``flagship_row_udf``, which
    fold the whole table per turn. The module's UDFs are
    ``extraction_udfs(reference.STAGES)``; the table travels to the Python
    workers inside each UDF's closure."""
    udfs = {_udf_name(stage): _stage_udf(stage) for stage in stages}

    def extract_turn_udf(texts: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        """text → full extraction-result struct, one Arrow batch at a time.

        The whole-turn single-UDF form — the registered SQL function
        (``functions/register.py``), the streaming surface and the
        golden-test oracle harness; ``extract_transcripts`` below uses the
        prunable per-stage split instead.

        Iterator form so per-worker init (dictionary lookups, regex
        compiles — the lazy-singleton pattern of ``app/api.py:56-104``)
        happens once per Python worker process, not per batch.
        """
        for series in texts:
            yield pd.DataFrame(
                [extract_turn(t if isinstance(t, str) else None, stages) for t in series]
            )

    def flagship_row_udf(texts: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        """text → exactly the six fields the flagship surface projects, in
        ONE Arrow crossing (round 7, guide §4.1): the full-struct split path
        paid four ArrowEvalPython nodes and re-shipped content/corrected_text
        into the stage UDFs, tripling extract_full_docs' wall time."""
        for series in texts:
            rows = []
            for t in series:
                r = extract_turn(t if isinstance(t, str) else None, stages)
                rows.append(
                    {
                        "document_type": r["document_type"],
                        "urgency": r["urgency"],
                        "matched_drugs": r["matched_drugs"],
                        "matched_diseases": r["matched_diseases"],
                        "corrected_text": r["corrected_text"],
                        "n_segments": r["metrics"]["n_segments"],
                    }
                )
            yield pd.DataFrame(rows)

    udfs["extract_turn_udf"] = F.pandas_udf(EXTRACTION_RESULT_TYPE)(extract_turn_udf)
    udfs["flagship_row_udf"] = F.pandas_udf(FLAGSHIP_ROW_TYPE)(flagship_row_udf)
    return udfs


_udfs = extraction_udfs(STAGES)
extract_turn_udf = _udfs["extract_turn_udf"]
flagship_row_udf = _udfs["flagship_row_udf"]
extract_core_udf = _udfs["extract_core_udf"]
segments_udf = _udfs["segments_udf"]
fields_udf = _udfs["fields_udf"]
classify_udf = _udfs["classify_udf"]
entities_udf = _udfs["entities_udf"]
# text → (masked_text, PII spans) — north_star de-identification stage,
# also applied on its own (``htep_deid``, ``q_deid_spans``, ``q_deid_mask``)
deid_udf = _udfs["deid_udf"]

_KEYS = ("conv_id", "turn_idx", "role", "ts")


def extract_transcripts(df: DataFrame) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → extraction
    output. Narrow projection — zero shuffle; Catalyst prunes unused input
    columns down to the parquet scan AND unused stage UDFs out of the plan
    (module docstring)."""
    # Every UDF is bound to a plain column in its own projection, and the
    # result struct is composed from ATTRIBUTE REFERENCES ONLY: struct
    # creation is then cheap enough for CollapseProject to inline into
    # downstream field extractions, SimplifyExtractValueOps rewrites
    # result.<field> to the underlying column, and ColumnPruning drops the
    # stage UDFs no consumer reads (an expensive expression referenced
    # several times — e.g. a UDF inside the struct — would block the
    # collapse and defeat the pruning).
    column = {"text": F.col("text")}  # result field → column holding it
    for stage in STAGES:
        out = F.col(f"_{stage.name}")
        for path in stage.fields:
            name = path.rsplit(".", 1)[-1]
            column[name] = out if len(stage.fields) == 1 else out.getField(name)

    # looked up when called: this surface runs the UDFs the module binds
    # now, as the whole-turn surfaces do (a test rebinds them all at once)
    def apply(stage: Stage):
        udf = globals()[_udf_name(stage)]
        return udf(column[stage.reads]).alias(f"_{stage.name}")

    # the core stage reads the raw text; every other stage reads a core
    # field, so two projections (two ArrowEvalPython nodes) run them all
    core, *rest = STAGES
    base = df.select(*_KEYS, apply(core))
    stage2 = base.select(*_KEYS, f"_{core.name}", *[apply(s) for s in rest])

    def struct(dtype: StructType):
        return F.struct(
            *[
                # a field no stage fills (metrics) is built from its leaves
                (column[f.name] if f.name in column else struct(f.dataType)).alias(
                    f.name
                )
                for f in dtype.fields
            ]
        )

    return stage2.select(*_KEYS, struct(EXTRACTION_RESULT_TYPE).alias("result"))
