"""``jsonschema.json`` configuration file — the reference's project config.

Mirrors /root/reference/docs/configuration.markdown:22-60 and
src/configuration.h: a ``jsonschema.json`` at the project root carrying

    {
      "defaultDialect": "https://json-schema.org/draft/2020-12/schema",
      "resolve": { "https://example.com/foo.json": "./schemas/foo.json" },
      "ignore": [ "build", "dist" ],
      "extension": [ ".schema.json" ]
    }

``find_config`` walks up from a start directory (the reference looks for
the nearest config above the input path); ``resolver_from_config`` loads
every ``resolve`` target (JSON or YAML, inline dicts allowed) into the
uri → schema registry consumed by ``compile_schema(resolver=...)``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Optional, Union


@dataclass
class ProjectConfig:
    default_dialect: Optional[str] = None
    resolve: dict = field(default_factory=dict)  # uri → path or inline dict
    ignore: list = field(default_factory=list)
    extension: list = field(default_factory=list)
    base_dir: str = "."


def find_config(start_dir: str, name: str = "jsonschema.json") -> Optional[str]:
    """Nearest config file at or above ``start_dir``."""
    d = os.path.abspath(start_dir)
    while True:
        candidate = os.path.join(d, name)
        if os.path.isfile(candidate):
            return candidate
        parent = os.path.dirname(d)
        if parent == d:
            return None
        d = parent


def load_config(path: str) -> ProjectConfig:
    with open(path) as f:
        raw = json.load(f)
    return ProjectConfig(
        default_dialect=raw.get("defaultDialect"),
        resolve=raw.get("resolve", {}) or {},
        ignore=list(raw.get("ignore", []) or []),
        extension=list(raw.get("extension", []) or []),
        base_dir=os.path.dirname(os.path.abspath(path)),
    )


def _load_schema_file(path: str) -> Union[dict, bool]:
    if path.endswith((".yaml", ".yml")):
        try:
            import yaml
        except ImportError as e:  # pragma: no cover
            raise RuntimeError("YAML schema requires pyyaml") from e
        with open(path) as f:
            return yaml.safe_load(f)
    with open(path) as f:
        return json.load(f)


def resolver_from_config(cfg: ProjectConfig) -> dict:
    """uri → schema dict registry from the config's ``resolve`` map.
    Values may be relative paths (resolved against the config dir) or
    inline schema objects."""
    registry: dict = {}
    for uri, target in cfg.resolve.items():
        if isinstance(target, (dict, bool)):
            registry[uri] = target
        else:
            path = target if os.path.isabs(target) else os.path.join(cfg.base_dir, target)
            registry[uri] = _load_schema_file(path)
    return registry

