"""Fusion provenance: trust extraction + lineage tracking.

Reference: PyDI/fusion/provenance.py — extract_source_trust_scores
(:371-425, consumed at engine.py:480-486) and ProvenanceTracker lineage
(:62-322). Trust lives on the Dataset wrapper here; the tracker records
operation-level lineage entries.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

from pydi_spark.core.dataset import Dataset


def extract_source_trust_scores(
    datasets: list[Dataset], default_trust: float = 0.5
) -> dict[str, float]:
    """dataset_name -> trust score (reference: provenance.py:371-425)."""
    return {
        ds.name: ds.trust_score if ds.trust_score is not None else default_trust
        for ds in datasets
    }


class ProvenanceTracker:
    """Operation-level lineage log (reference: provenance.py:62-322)."""

    def __init__(self) -> None:
        self.entries: list[dict[str, Any]] = []

    def record(self, op: str, inputs: list[str], output: str, **params: Any) -> None:
        self.entries.append(
            {
                "op": op,
                "inputs": inputs,
                "output": output,
                "params": params,
                "ts": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            }
        )

    def record_fusion(self, datasets: list[Dataset], output_name: str = "fused") -> None:
        self.record(
            "fusion",
            [ds.name for ds in datasets],
            output_name,
            trust=extract_source_trust_scores(datasets),
        )

    def lineage_of(self, name: str) -> list[dict[str, Any]]:
        """Transitive input lineage for an output name."""
        out = []
        frontier = {name}
        for e in reversed(self.entries):
            if e["output"] in frontier:
                out.append(e)
                frontier |= set(e["inputs"])
        return list(reversed(out))

    def to_json(self, path: str) -> None:
        from pydi_spark.io.writers import write_artifact

        write_artifact(self.entries, path)
