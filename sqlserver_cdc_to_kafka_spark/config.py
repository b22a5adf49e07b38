"""Engine configuration — the options of the reference
(``cdc_kafka/options.py``) that change what this engine does, as a typed
config object.

Each field lists the reference flag it mirrors. The CLI's pipeline mode
(``__main__._run_pipeline``) reads every one of them; any other key is
rejected by the dataclass constructor, so a setting the engine would ignore
cannot be passed.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from typing import Any


@dataclass
class EngineConfig:
    table_include_regex: str | None = None  # --table-include-regex
    table_exclude_regex: str | None = None  # --table-exclude-regex
    snapshot_table_include_regex: str | None = None  # --snapshot-table-include-regex
    snapshot_table_exclude_regex: str | None = None  # --snapshot-table-exclude-regex
    topic_name_template: str = "{schema_name}_{table_name}_cdc"  # --topic-name-template
    disable_deletion_tombstones: bool = False  # --disable-deletion-tombstones

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
