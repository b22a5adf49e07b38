"""Engine configuration — the reference's option surface
(``cdc_kafka/options.py``, ~34 flags) re-expressed as a typed config object,
so an operator of the reference can carry their settings across.

Each field lists the reference flag it mirrors and which engine component
consumes it. Connection/broker plumbing that Spark supplies natively
(bootstrap servers → Kafka sink options, conn string → JDBC options) passes
through verbatim in ``source_options`` / ``sink_options``.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Any

VALID_LSN_GAP_HANDLING = ("raise_exception", "begin_new_snapshot", "ignore")
VALID_INSTANCE_SNAPSHOT = ("begin_new_snapshot", "ignore")
VALID_INSTANCE_OVERLAP = ("publish_duplicates", "start_from_prior_progress")
VALID_NEW_FOLLOW_START = ("earliest", "latest")


@dataclass
class EngineConfig:
    # --- source / scan ---------------------------------------------------
    source_options: dict[str, str] = field(default_factory=dict)  # --db-conn-string etc.
    db_row_batch_size: int = 2000  # --db-row-batch-size (options.py:282-285); batch mode: one scan
    table_include_regex: str | None = None  # --table-include-regex
    table_exclude_regex: str | None = None  # --table-exclude-regex
    snapshot_table_include_regex: str | None = None  # --snapshot-table-include-regex
    snapshot_table_exclude_regex: str | None = None  # --snapshot-table-exclude-regex
    new_follow_start_point: str = "earliest"  # --new-follow-start-point

    # --- topics / sink ---------------------------------------------------
    sink_options: dict[str, str] = field(default_factory=dict)  # kafka/bootstrap etc.
    topic_name_template: str = "{schema_name}_{table_name}_cdc"  # --topic-name-template
    progress_topic_name: str = "_cdc_progress"  # --progress-topic-name
    snapshot_logging_topic_name: str | None = None  # --snapshot-logging-topic-name
    unified_topics: dict[str, str] = field(default_factory=dict)  # --unified-topics
    partition_count: int | None = None  # --partition-count (None => rate heuristic)
    replication_factor: int = 3  # --replication-factor
    disable_deletion_tombstones: bool = False  # --disable-deletion-tombstones
    extra_topic_config: dict[str, str] = field(default_factory=dict)
    kafka_oauth_provider: str | None = None  # --kafka-oauth-provider (module.Class, X3)
    kafka_oauth_options: dict[str, Any] = field(default_factory=dict)  # provider kwargs

    # --- serialization ---------------------------------------------------
    message_serializer: str = "json"  # --message-serializer ('json' | 'avro')
    truncate_fields: dict[str, int] = field(default_factory=dict)  # --truncate-fields

    # --- evolution / recovery --------------------------------------------
    lsn_gap_handling: str = "raise_exception"  # --lsn-gap-handling
    new_capture_instance_snapshot_handling: str = "begin_new_snapshot"
    new_capture_instance_overlap_handling: str = "start_from_prior_progress"
    terminate_on_capture_instance_change: bool = False

    # --- metrics / ops ---------------------------------------------------
    metrics_reporters: str = "stdout"  # --metrics-reporters (see metrics.load_reporters)
    metrics_namespace: str = "cdc_engine"  # --metrics-namespace
    run_validations: bool = False  # --run-validations
    report_progress_only: bool = False  # --report-progress-only
    process_hostname: str | None = None  # --process-hostname

    def __post_init__(self) -> None:
        if self.lsn_gap_handling not in VALID_LSN_GAP_HANDLING:
            raise ValueError(f"lsn_gap_handling must be one of {VALID_LSN_GAP_HANDLING}")
        if self.new_capture_instance_snapshot_handling not in VALID_INSTANCE_SNAPSHOT:
            raise ValueError(
                f"new_capture_instance_snapshot_handling must be one of {VALID_INSTANCE_SNAPSHOT}"
            )
        if self.new_capture_instance_overlap_handling not in VALID_INSTANCE_OVERLAP:
            raise ValueError(
                f"new_capture_instance_overlap_handling must be one of {VALID_INSTANCE_OVERLAP}"
            )
        if self.new_follow_start_point not in VALID_NEW_FOLLOW_START:
            raise ValueError(f"new_follow_start_point must be one of {VALID_NEW_FOLLOW_START}")
        if self.db_row_batch_size < 1:
            raise ValueError("db_row_batch_size must be positive")

    # --- behavior helpers (consumed by the engine components) ------------

    def table_followed(self, fq_name: str) -> bool:
        """P7: include/exclude regex filter over 'schema.table'."""
        if self.table_include_regex and not re.search(self.table_include_regex, fq_name):
            return False
        if self.table_exclude_regex and re.search(self.table_exclude_regex, fq_name):
            return False
        return True

    def table_snapshotted(self, fq_name: str) -> bool:
        if not self.table_followed(fq_name):
            return False
        if self.snapshot_table_include_regex and not re.search(
            self.snapshot_table_include_regex, fq_name
        ):
            return False
        if self.snapshot_table_exclude_regex and re.search(
            self.snapshot_table_exclude_regex, fq_name
        ):
            return False
        return True

    def topic_for(self, schema_name: str, table_name: str) -> str:
        """F14: topic-name templating."""
        return self.topic_name_template.format(
            schema_name=schema_name, table_name=table_name
        )

    @classmethod
    def from_json(cls, raw: str) -> "EngineConfig":
        """F16: JSON config parsing (env/file-based deployments)."""
        data: dict[str, Any] = json.loads(raw)
        return cls(**data)
