"""LLM-based schema matching.

Reference: LLMBasedSchemaMatcher (PyDI/schemamatching/llm_based.py:32-583):
markdown-render sample rows of both tables, ask a chat model for column
correspondences, parse. Driver-side by nature (two small samples + one
prompt); the client is an injectable zero-arg factory with a
deterministic offline fake (same pattern as the PLM/LLM matchers).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame

from pydi_spark.core.arrowio import rows_to_df
from pydi_spark.core.dataset import Dataset, as_dataframe
from pydi_spark.schemamatching.base import build_mapping, dataset_name, schema_columns

PROMPT = """Given two tables, propose column correspondences.
Table source ({s_name}) sample:
{s_md}
Table target ({t_name}) sample:
{t_md}
Answer with JSON: [{{"source_column": str, "target_column": str, "score": float}}]"""


def fake_schema_client() -> Callable[[str], str]:
    """Deterministic stand-in: matches columns whose sampled values
    overlap (a crude instance-based heuristic behind the LLM interface)."""

    def complete(prompt: str) -> str:
        def parse_table(block: str) -> dict[str, list[str]]:
            lines = [ln for ln in block.strip().splitlines() if ln.strip()]
            headers = [h.strip() for h in lines[0].strip("|").split("|")]
            cols: dict[str, list[str]] = {h: [] for h in headers}
            for ln in lines[2:]:
                vals = [v.strip() for v in ln.strip("|").split("|")]
                for h, v in zip(headers, vals):
                    cols[h].append(v)
            return cols

        s_block = prompt.split("sample:\n")[1].split("Table target")[0]
        t_block = prompt.split("sample:\n")[2].split("Answer with JSON")[0]
        s_cols, t_cols = parse_table(s_block), parse_table(t_block)
        out = []
        for sc, sv in s_cols.items():
            for tc, tv in t_cols.items():
                a, b = set(sv), set(tv)
                score = len(a & b) / len(a | b) if (a or b) else 0.0
                if score > 0:
                    out.append(
                        {"source_column": sc, "target_column": tc,
                         "score": round(score, 4)}
                    )
        return json.dumps(out)

    return complete


def _to_markdown(df: DataFrame, columns: list[str], n: int) -> str:
    rows = df.select(*columns).limit(n).collect()
    header = "| " + " | ".join(columns) + " |"
    sep = "|" + "|".join("---" for _ in columns) + "|"
    body = [
        "| " + " | ".join("" if r[c] is None else str(r[c]) for c in columns) + " |"
        for r in rows
    ]
    return "\n".join([header, sep] + body)


@dataclass
class LLMBasedSchemaMatcher:
    client_factory: Callable[[], Callable[[str], str]] = fake_schema_client
    num_rows: int = 5

    def match(
        self,
        source: Dataset | DataFrame,
        target: Dataset | DataFrame,
        threshold: float = 0.5,
    ) -> DataFrame:
        mapping, _ = self._match(source, target, threshold, capture=False)
        return mapping

    def match_with_log(
        self,
        source: Dataset | DataFrame,
        target: Dataset | DataFrame,
        threshold: float = 0.5,
    ) -> "tuple[DataFrame, DataFrame]":
        """``(mapping, call_log)`` — reference parity with the
        LLMCallLogger capture (PyDI/utils/llm.py:88-212). The single
        schema-comparison prompt happens driver-side, so the log is a
        one-row-per-call frame built directly from the recorder."""
        return self._match(source, target, threshold, capture=True)

    def _match(
        self,
        source: Dataset | DataFrame,
        target: Dataset | DataFrame,
        threshold: float,
        capture: bool,
    ) -> "tuple[DataFrame, DataFrame | None]":
        from pydi_spark.core.llmcalls import (
            CALL_RECORD_TYPE,
            CallRecorder,
            unpack_response,
        )

        sdf, tdf = as_dataframe(source), as_dataframe(target)
        s_cols, t_cols = schema_columns(source), schema_columns(target)
        s_name, t_name = dataset_name(source, "source"), dataset_name(target, "target")
        prompt = PROMPT.format(
            s_name=s_name, t_name=t_name,
            s_md=_to_markdown(sdf, s_cols, self.num_rows),
            t_md=_to_markdown(tdf, t_cols, self.num_rows),
        )
        client = self.client_factory()
        recorder = CallRecorder() if capture else None
        rows = []
        try:
            if recorder is not None:
                raw = recorder.call(client, prompt, attempt=0)
            else:
                raw, _ = unpack_response(client(prompt))
            parsed = json.loads(raw[raw.find("["): raw.rfind("]") + 1])
            for item in parsed:
                sc, tc = item.get("source_column"), item.get("target_column")
                if sc in s_cols and tc in t_cols:
                    rows.append(
                        (s_name, sc, t_name, tc,
                         float(item.get("score", 0.0)), "llm_based")
                    )
        except Exception as exc:
            rows = []
            if recorder is not None:
                recorder.record_parse_error(exc)
        mapping = build_mapping(sdf.sparkSession, rows, threshold)
        if not capture:
            return mapping, None
        from pyspark.sql.types import StringType, StructField, StructType

        log_schema = StructType(
            [StructField("stage", StringType()),
             StructField("source_dataset", StringType()),
             StructField("target_dataset", StringType())]
            + CALL_RECORD_TYPE.fields
        )
        log = rows_to_df(
            sdf.sparkSession,
            [tuple([
                "llm_schema_matcher", s_name, t_name,
            ] + [r[f.name] for f in CALL_RECORD_TYPE.fields])
             for r in recorder.row()],
            log_schema,
        )
        return mapping, log
