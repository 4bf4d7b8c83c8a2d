"""Pipeline configuration + config-hash invalidation.

Mirrors the reference's checkpoint invalidation rule: a checkpoint is only
reusable when the config hash matches
(/root/reference/extraction/kg_extractor/config.py:319-336 — sha256 of the
canonical config, first 16 hex chars).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    #: number of conversation hash-buckets = resumable work units
    #: (the Spark analog of the reference's chunk list,
    #: hybrid_chunker.py:37-149; a bucket is the resume granularity)
    n_buckets: int = 32
    #: coreference-merge gate (reference default agent_similarity_threshold,
    #: config.py:98-103)
    confidence_threshold: float = 0.85
    #: salt factor for long conversations inside the extraction map stage
    #: (chunk-split analog, orchestrator.py:637-687): conversations are
    #: further split into (conv_id, turn_idx // salt_turns) Arrow groups.
    salt_turns: int = 1024
    #: rule-set version — bump when extraction rules change so resume
    #: invalidates (config-hash semantics)
    #: v2: entity-subject attribution for verb mentions
    #: v3: MEDIUM indirect tier + usedTool emission + E3 struct detection
    rules_version: str = "3"
    extra: dict = field(default_factory=dict, hash=False, compare=False)

    @property
    def config_hash(self) -> str:
        payload = asdict(self)
        blob = json.dumps(payload, sort_keys=True, default=str)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]
