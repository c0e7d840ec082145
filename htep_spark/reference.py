"""The per-turn reference extractor — single source of truth.

``extract_turn(text)`` is the canonical operator chain of this platform
(SURVEY.md §2.9): payload decode (PDF-layout parse / HTML boilerplate strip
/ markdown-fence strip, replacing the reference's OCR stage) → dictionary
correction (T7) → segmentation with spans (G5) → structured field
extraction (E1/E2/E5) → classification + urgency + entities (C1/C2/C4).

Composition: each downstream consumer uses the reference DAG it belongs to.
``final_text = content.strip()`` and classifier/urgency on the corrected
text follow the API DAG (``app/api.py:233,280-293``). The structured-field
extractor consumes ``final_text`` (newlines intact) per the offline-eval
DAG (``tests/evaluate_metrics.py:39-90``) — the path that produced the
reference's own ``ground_truth.json``; the API path would feed it the
whitespace-collapsed post-processor output (T7 joins tokens with a single
space, ``src/nlp/ocr_postprocessor.py:270``), which destroys every
line-anchored field regex. Segments come from the CLI DAG
(``src/pipeline/controller.py:22-45``) and are computed on the decoded
``content`` with char spans. These composition choices are this engine's
canonical semantics; every per-operator behavior is reference-faithful.

The chain is one ordered table, ``STAGES``: each stage names the upstream
field it reads, its function, its default output on failure and the
result-struct fields it fills. ``extract_turn`` is a fold over the table,
and the Spark stage UDFs (``htep_spark/operators/extract.py``) are
generated from the same table — equality by construction, then tested
anyway.

Stage isolation (``app/api.py:215-293``), one rule on every surface: each
stage catches its own exception and fills its fields with its default;
downstream stages read whatever their upstream returned, fallback or not.
A turn is never lost. ``metrics.failed``/``metrics.error`` report the core
stage (payload decode + correction) only, so a consumer of the metrics
never depends on the other stages.
"""

from __future__ import annotations

from typing import Callable, Dict, NamedTuple, Optional, Tuple

from .dictionaries import (
    DISEASES_MULTI,
    DISEASES_SINGLE,
    DISEASE_SET,
    DRUGS_MULTI,
    DRUGS_SINGLE,
    DRUG_SET,
)
from .functions.deid import deidentify
from .functions.classify import (
    classify_document,
    document_urgency,
    extract_medical_entities,
)
from .functions.extract_fields import extract_record
from .functions.html_extract import (
    extract_main_content,
    looks_like_html,
    strip_markdown_fences,
)
from .functions.chat_json import looks_like_chat_json, parse_chat_json
from .functions.pdf_layout import looks_like_pdf_layout, parse_pdf_layout
from .functions.segments import segment_document
from .functions.textops import fusion_correct, postprocess

__all__ = ["STAGES", "Stage", "decode_payload", "extract_turn", "fusion_correct"]

# Per-process fuzzy-lookup memo tables (pure caches: same in → same out).
_DRUG_MEMO: Dict = {}
_DISEASE_MEMO: Dict = {}


def decode_payload(text: Optional[str]) -> Tuple[str, str, int, int]:
    """Payload router → ``(content, payload_kind, blocks_kept, blocks_dropped)``.

    Content-sniff routing (the text-domain analogue of the file-suffix
    routing at ``app/api.py:170-178``): PDF-layout JSON → HTML markup →
    markdown-fenced → plain text. Deterministic per turn, independent of
    any side channel.
    """
    if not text:
        return "", "plain", 0, 0
    if looks_like_pdf_layout(text):
        parsed = parse_pdf_layout(text)
        if parsed is not None:
            content, n_blocks = parsed
            return content, "pdf_layout", n_blocks, 0
    if looks_like_chat_json(text):
        parsed = parse_chat_json(text)
        if parsed is not None:
            content, n_blocks = parsed
            return content, "chat_json", n_blocks, 0
    if looks_like_html(text):
        content, kept, dropped = extract_main_content(text)
        return content, "html", kept, dropped
    if "```" in text:
        return strip_markdown_fences(text), "markdown", 0, 0
    return text, "plain", 0, 0


class Stage(NamedTuple):
    """One link of the chain. ``fn(value)`` returns a dict keyed by the
    leaf names of ``fields`` (paths into ``schema.EXTRACTION_RESULT_TYPE``);
    if it raises, ``default(value, error)`` returns that dict instead.
    ``value`` is the field ``reads`` names (``"text"`` is the raw input)."""

    name: str
    reads: str
    fn: Callable[[Optional[str]], Dict]
    default: Callable[[Optional[str], str], Dict]
    fields: Tuple[str, ...]


def run_stage(stage: Stage, value: Optional[str]) -> Dict:
    """``stage.fn(value)``, or its default if it raises — the one isolation
    rule of every surface."""
    try:
        return stage.fn(value)
    except Exception as exc:  # stage isolation: never lose a turn
        return stage.default(value, f"{type(exc).__name__}: {exc}")


def _core(text: Optional[str]) -> Dict:
    """Payload decode (S1-S3 routing) + T7 dictionary post-processing."""
    content, payload_kind, kept, dropped = decode_payload(text)
    # app/api.py:233 — the canonical text is the decoded content, stripped.
    final_text = content.strip()
    post = postprocess(
        final_text,
        DRUGS_SINGLE,
        DRUGS_MULTI,
        DRUG_SET,
        DISEASES_SINGLE,
        DISEASES_MULTI,
        DISEASE_SET,
        85.0,
        _DRUG_MEMO,
        _DISEASE_MEMO,
    )
    return {
        "payload_kind": payload_kind,
        "content": content,
        "final_text": final_text,
        "corrected_text": post["corrected_text"] if final_text else "",
        "corrections": [
            {
                "from": c["from"],
                "to": c["to"],
                "type": c["type"],
                "score": int(c["score"]),
            }
            for c in post["corrections"]
        ],
        "matched_drugs": post["matched_drugs"],
        "matched_diseases": post["matched_diseases"],
        "blocks_kept": kept,
        "blocks_dropped": dropped,
        "n_corrections": len(post["corrections"]),
        "content_chars": len(content),
        "failed": False,
        "error": None,
    }


def _core_default(text: Optional[str], error: str) -> Dict:
    safe = text or ""
    return {
        "payload_kind": "plain",
        "content": safe,
        "final_text": safe.strip(),
        "corrected_text": safe.strip(),
        "corrections": [],
        "matched_drugs": [],
        "matched_diseases": [],
        "blocks_kept": 0,
        "blocks_dropped": 0,
        "n_corrections": 0,
        "content_chars": len(safe),
        "failed": True,
        "error": error,
    }


def _segments(content: str) -> Dict:
    # segments on multi-line content (documented deviation, module docstring)
    segments = segment_document(content)
    return {"segments": segments, "n_segments": len(segments)}


def _empty_extracted() -> Dict:
    return {
        "patient_name": None,
        "age": None,
        "gender": None,
        "date": None,
        "doctor_name": None,
        "hospital": None,
        "diagnosis": [],
        "medicines": [],
        "vitals": {"bp": None, "temp": None, "pulse": None},
        "instructions": [],
    }


def _fields(final_text: str) -> Dict:
    # eval-harness DAG: field extraction on the newline-intact final text
    extracted = extract_record(final_text) if final_text else {}
    if not extracted:
        return {"extracted": _empty_extracted()}
    vit = extracted.get("vitals") or {}
    extracted["vitals"] = {
        "bp": vit.get("bp"),
        "temp": vit.get("temp"),
        "pulse": vit.get("pulse"),
    }
    return {"extracted": extracted}


def _classify(corrected_text: str) -> Dict:
    """C1 classification + C2 urgency, in the reference chain order."""
    cls = classify_document(corrected_text)
    urgency, urgency_conf = document_urgency(corrected_text)
    return {
        "document_type": cls["document_type"],
        "doc_confidence": float(cls["confidence"]),
        "keywords_found": cls["keywords_found"],
        "secondary_types": cls["secondary_types"],
        "urgency": urgency,
        "urgency_confidence": float(urgency_conf),
    }


def _entities(corrected_text: str) -> Dict:
    return {"entities": extract_medical_entities(corrected_text)}


def _deid(final_text: str) -> Dict:
    # north_star de-identification: masked text + PII spans against the
    # newline-intact final text (same reference frame as the extractor)
    return {"deid": deidentify(final_text)}


STAGES: Tuple[Stage, ...] = (
    Stage(
        "core",
        "text",
        _core,
        _core_default,
        (
            "payload_kind",
            "content",
            "final_text",
            "corrected_text",
            "corrections",
            "matched_drugs",
            "matched_diseases",
            "metrics.blocks_kept",
            "metrics.blocks_dropped",
            "metrics.n_corrections",
            "metrics.content_chars",
            "metrics.failed",
            "metrics.error",
        ),
    ),
    Stage(
        "segments",
        "content",
        _segments,
        lambda content, error: {"segments": [], "n_segments": 0},
        ("segments", "metrics.n_segments"),
    ),
    Stage(
        "fields",
        "final_text",
        _fields,
        lambda final_text, error: {"extracted": _empty_extracted()},
        ("extracted",),
    ),
    Stage(
        "classify",
        "corrected_text",
        _classify,
        lambda corrected_text, error: {
            "document_type": "unknown",
            "doc_confidence": 0.0,
            "keywords_found": [],
            "secondary_types": [],
            "urgency": "routine",
            "urgency_confidence": 0.5,
        },
        (
            "document_type",
            "doc_confidence",
            "keywords_found",
            "secondary_types",
            "urgency",
            "urgency_confidence",
        ),
    ),
    Stage(
        "entities",
        "corrected_text",
        _entities,
        lambda corrected_text, error: {
            "entities": {
                "medications": [],
                "conditions": [],
                "procedures": [],
                "measurements": [],
            }
        },
        ("entities",),
    ),
    Stage(
        "deid",
        "final_text",
        _deid,
        lambda final_text, error: {
            "deid": {"masked_text": final_text, "spans": []}
        },
        ("deid",),
    ),
)


def extract_turn(text: Optional[str], stages: Tuple[Stage, ...] = STAGES) -> Dict:
    """Full canonical per-turn extraction: a fold over ``stages``. Returns
    the dict form of ``schema.EXTRACTION_RESULT_TYPE``."""
    scope: Dict = {"text": text}
    result: Dict = {}
    for stage in stages:
        out = run_stage(stage, scope[stage.reads])
        scope.update(out)
        for path in stage.fields:
            *parents, name = path.split(".")
            dest = result
            for parent in parents:
                dest = dest.setdefault(parent, {})
            dest[name] = out[name]
    return result
