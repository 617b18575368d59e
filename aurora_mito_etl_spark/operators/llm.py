"""LLM batch-classification operator (SURVEY §2.10 D5, §2.1 S8).

The flagship "LLM data pipeline" operator: classify each document
with a chat model, in batches, with strict TSV parsing, per-item
PMID force-alignment, compound sanitization, retry with exponential
backoff, and at-most-once resume semantics.

Spec source (behavior only, re-expressed Spark-first): reference
scripts/run_gpt_filter.py:37-188 — batch=10, ≤6000 chars of text per
item, reply lines `PMID<digits>\\tYES|probablyYES|NO\\tnames|NA`,
banned simple ions, ≤3 names of ≤80 chars each, 'NO' forces NA.

Execution model: ``mapInArrow`` over the (pmid, text) columns — each
task holds ONE client (connection reuse), batches the rows of each
Arrow batch, rate-limits between calls, and never retries through
Spark's task retry (which would duplicate paid API calls — SURVEY
§2.9 I4).
Resume is an anti-join against the sink (J4), not worker state.
"""

from __future__ import annotations

import re
import time
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from aurora_mito_etl_spark.operators.joins import anti_join

# Elements / simple salts the model must never emit as "compounds".
BANNED_SIMPLE_NAMES = frozenset(
    {"na", "k", "cl", "mg", "ca", "fe", "cu", "zn", "mn", "au", "ag", "h2o", "o2"}
)

_STRICT_ID = re.compile(r"^(?:PMID)?\s*(\d{1,9})$")
_LOOSE_ID = re.compile(r"(\d{1,9})")

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("pmid", T.StringType(), False),
        T.StructField("confidence", T.StringType(), False),
        T.StructField("compound", T.StringType(), False),
    ]
)


def extract_pmid(raw: str) -> str:
    """F8 — digit-string PMID from a possibly-messy model field:
    whole-field match first (optional 'PMID' prefix), then first
    digit run anywhere, else ''."""
    if not raw:
        return ""
    whole = _STRICT_ID.match(raw)
    if whole:
        return whole.group(1)
    anywhere = _LOOSE_ID.search(raw)
    return anywhere.group(1) if anywhere else ""


def sanitize_compounds(raw: str) -> list[str]:
    """≤3 names, each ≤80 chars, banned ions dropped, punctuation
    fringe trimmed. Check order (ban/length before fringe-trim)
    matches the reference so outputs are comparable."""
    kept: list[str] = []
    for piece in raw.split(";"):
        candidate = piece.strip(" \t\n\x0b\f\r")  # ASCII ws only (see parse_result_line)
        if not candidate or candidate.lower() in BANNED_SIMPLE_NAMES:
            continue
        if len(candidate) > 80:
            continue
        candidate = candidate.strip(" ,.;:()[]{}")
        if candidate:
            kept.append(candidate)
        if len(kept) == 3:
            break
    return kept


def parse_result_line(line: str, expected_pmid: str) -> tuple[str, str, str] | None:
    """One model reply line → (pmid, confidence, compound) or None.

    The PMID is force-aligned to the expected item (models drift);
    the flag is validated case-insensitively (F14); NO ⇒ 'NA'.
    Field strips are EXPLICIT ASCII whitespace, never bare
    str.strip(): bare strip also eats Unicode whitespace (NBSP) off a
    compound name's fringe, which the stub oracle's ASCII-set trim
    never does — the classify twins must keep byte-identical names
    (r10 NBSP-alphabet finding).
    """
    _aws = " \t\n\x0b\f\r"
    parts = line.strip(_aws).split("\t")
    if len(parts) < 3:
        return None
    _got_pmid, got_flag, got_names = (p.strip(_aws) for p in parts[:3])
    # The reply's PMID field is advisory only: batch order is the
    # ground truth, so the output is unconditionally force-aligned
    # (models drift; extract_pmid remains public for callers that DO
    # trust the field).
    pmid = expected_pmid
    flag = got_flag.lower()
    if flag not in {"yes", "probablyyes", "no"}:
        return None
    if flag == "no":
        return pmid, "NO", "NA"
    names = sanitize_compounds(got_names)
    label = "YES" if flag == "yes" else "probablyYES"
    return pmid, label, "; ".join(names) if names else "NA"


# ---------------------------------------------------------------------------
# Pluggable clients
# ---------------------------------------------------------------------------

# A classifier takes [(pmid, text), ...] and returns raw reply lines.
Classifier = Callable[[list[tuple[str, str]]], list[str]]
ClassifierFactory = Callable[[], Classifier]


def stub_classifier() -> Classifier:
    """Deterministic offline classifier for tests/CI (SURVEY §5:
    'LLM behind interfaces with seeded stubs').

    Heuristic: 'inhibit' + 'complex i' → YES, 'decrease'/'reduce' +
    'complex i' → probablyYES, else NO; the 'compound' is the first
    ASCII-capitalized word of >2 chars. Deterministic in the text
    alone — and PORTABLY so: tokenization is the repo-wide explicit
    ASCII whitespace class and the capital test is ASCII `A-Z`, never
    str.split()/str.isupper() (Python's split() breaks on Unicode
    whitespace like NBSP and isupper() accepts Ø/Æ/Β, neither of
    which the DuckDB oracle's squeeze+split / `^[A-Z]` does — a
    latent engine divergence the r10 fuzz-vocabulary arming exposed).
    """
    import re as _re

    _ws = _re.compile(r"[ \t\n\x0b\f\r]+")

    def classify(batch: list[tuple[str, str]]) -> list[str]:
        lines = []
        for pmid, text in batch:
            low = text.lower()
            topical = "complex i" in low or "nadh" in low
            if topical and "inhibit" in low:
                flag = "YES"
            elif topical and ("decrease" in low or "reduce" in low):
                flag = "probablyYES"
            else:
                flag = "NO"
            name = "NA"
            if flag != "NO":
                for w in _ws.split(text):
                    bare = w.strip(" ,.;:()[]{}")
                    if "A" <= bare[:1] <= "Z" and len(bare) > 2:
                        name = bare
                        break
            lines.append(f"PMID{pmid}\t{flag}\t{name}")
        return lines

    return classify


def openai_classifier_factory(
    model: str = "gpt-4.1-mini",
    max_tokens_per_item: int = 25,
    system_prompt: str | None = None,
    user_preamble: str | None = None,
) -> ClassifierFactory:
    """Live OpenAI-backed classifier (one client per executor worker).

    Import is deferred: CI images without the SDK can still import
    this module. Prompts are injectable; defaults ask for the TSV
    contract parse_result_line expects.
    """

    def make() -> Classifier:
        import openai  # deferred: live path only

        client = openai.OpenAI()
        sys_msg = system_prompt or (
            "Classify each numbered abstract. Reply with one TSV line per "
            "item, in order: PMID<digits>\tYES|probablyYES|NO\t<names|NA>."
        )
        preamble = user_preamble or "Abstracts:\n"

        def classify(batch: list[tuple[str, str]]) -> list[str]:
            body = "\n\n".join(
                f"[{i + 1}] PMID {pmid}\n{text}" for i, (pmid, text) in enumerate(batch)
            )
            resp = client.chat.completions.create(
                model=model,
                messages=[
                    {"role": "system", "content": sys_msg},
                    {"role": "user", "content": preamble + body},
                ],
                temperature=0,
                max_tokens=max_tokens_per_item * len(batch),
            )
            return resp.choices[0].message.content.strip().splitlines()

        return classify

    return make


# ---------------------------------------------------------------------------
# The operator
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ClassifyConfig:
    batch_size: int = 10
    max_chars: int = 6000
    rate_limit_s: float = 0.0
    max_attempts: int = 5
    backoff_base_s: float = 1.0
    backoff_cap_s: float = 120.0
    sleep: Callable[[float], None] = field(default=time.sleep)


def _iter_batches(
    rows: Iterable[tuple[str, str]], size: int
) -> Iterator[list[tuple[str, str]]]:
    buf: list[tuple[str, str]] = []
    for item in rows:
        buf.append(item)
        if len(buf) == size:
            yield buf
            buf = []
    if buf:
        yield buf


def _classify_with_retry(
    classify: Classifier, batch: list[tuple[str, str]], cfg: ClassifyConfig
) -> list[str]:
    delay = cfg.backoff_base_s
    for attempt in range(cfg.max_attempts):
        try:
            return classify(batch)
        except Exception:  # noqa: BLE001 — any transport/API error
            if attempt == cfg.max_attempts - 1:
                raise
            cfg.sleep(min(delay, cfg.backoff_cap_s))
            delay *= 2
    raise AssertionError("unreachable")


def classify_documents(
    df: DataFrame,
    classifier_factory: ClassifierFactory,
    pmid_col: str = "pmid",
    text_col: str = "title_abstract",
    config: ClassifyConfig | None = None,
) -> DataFrame:
    """Run the batch classifier over `df` → (pmid, confidence, compound).

    Each output row exists for every input row: unparseable reply
    lines and short replies degrade to ('NO', 'NA') rather than
    dropping the item, so downstream joins never lose PMIDs and the
    run is idempotent under resume.
    """
    import pyarrow as pa

    cfg = config or ClassifyConfig()

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        classify = classifier_factory()
        first_call = True
        for rb in batches:
            pairs = [
                (str(p), (t or "")[: cfg.max_chars])
                for p, t in zip(rb.column(0).to_pylist(), rb.column(1).to_pylist())
            ]
            for batch in _iter_batches(pairs, cfg.batch_size):
                if not first_call and cfg.rate_limit_s > 0:
                    cfg.sleep(cfg.rate_limit_s)
                first_call = False
                lines = _classify_with_retry(classify, batch, cfg)
                out = []
                for i, (pmid, _text) in enumerate(batch):
                    parsed = (
                        parse_result_line(lines[i], pmid) if i < len(lines) else None
                    )
                    out.append(parsed or (pmid, "NO", "NA"))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(col, pa.string()) for col in zip(*out)],
                    names=RESULT_SCHEMA.names,
                )

    return df.select(pmid_col, text_col).mapInArrow(run, RESULT_SCHEMA)


def classify_documents_resumable(
    df: DataFrame,
    done: DataFrame,
    classifier_factory: ClassifierFactory,
    pmid_col: str = "pmid",
    text_col: str = "title_abstract",
    config: ClassifyConfig | None = None,
) -> DataFrame:
    """I2/J4 — at-most-once per PMID: anti-join the already-classified
    sink, then classify only the remainder (reference replays its own
    output as done-state, run_gpt_filter.py:81-95)."""
    todo = anti_join(df, done.select(pmid_col).distinct(), pmid_col)
    return classify_documents(todo, classifier_factory, pmid_col, text_col, config)
