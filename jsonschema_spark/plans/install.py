"""`jsonschema install` analogue — vendor remote schemas locally.

The reference fetches a schema URI (plus its transitive `$ref` closure),
bundles it for offline consumption, writes it to a project-relative
path, records the dependency in `jsonschema.json`, and maintains a lock
file with checksums for reproducible CI (`--frozen` verifies without
modifying) — /root/reference/docs/install.markdown, src/command_install.cc.

Composed here from the existing pieces: sources/http_resolver (fetch +
transitive closure), plans/bundle (inline the closure), plans/configfile
(`jsonschema.json` dependencies/resolve maps). Lock file:
`jsonschema.lock.json` mapping uri → {path, sha256 of the bundled file}.
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Callable, Optional

from jsonschema_spark.plans.bundle import bundle
from jsonschema_spark.sources.http_resolver import http_resolver, resolve_remote_refs

_LOCK_NAME = "jsonschema.lock.json"
_CONFIG_NAME = "jsonschema.json"


class FrozenError(ValueError):
    """--frozen verification failed: lock missing or checksum mismatch."""


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _load_json(path: str) -> dict:
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {}


def install_schema(
    uri: str,
    path: str,
    project_dir: str = ".",
    fetch: Optional[Callable[[str], str]] = None,
    force: bool = False,
    frozen: bool = False,
    timeout: float = 10.0,
) -> dict:
    """Install one dependency; returns {uri, path, sha256, installed}.

    frozen=True: verify the existing file against the lock without any
    fetch or write (the CI mode)."""
    cfg_path = os.path.join(project_dir, _CONFIG_NAME)
    lock_path = os.path.join(project_dir, _LOCK_NAME)
    rel = os.path.relpath(os.path.join(project_dir, path), project_dir) \
        if not os.path.isabs(path) else path
    dest = os.path.join(project_dir, rel)

    if frozen:
        lock = _load_json(lock_path)
        entry = lock.get(uri)
        if entry is None:
            raise FrozenError(f"{uri} not in lock file")
        target = os.path.join(project_dir, entry["path"])
        if not os.path.exists(target):
            raise FrozenError(f"locked file missing: {entry['path']}")
        with open(target) as f:
            if _sha256(f.read()) != entry["sha256"]:
                raise FrozenError(f"checksum mismatch for {entry['path']}")
        return {"uri": uri, "path": entry["path"], "sha256": entry["sha256"],
                "installed": False}

    if os.path.exists(dest) and not force:
        lock = _load_json(lock_path)
        entry = lock.get(uri)
        if entry and entry.get("path") == rel:
            return {"uri": uri, "path": rel, "sha256": entry["sha256"],
                    "installed": False}

    # fetch root + transitive closure, bundle for offline use
    # (http_resolver keys its registry by DEFRAGGED uri); a root without
    # `$id` is framed at the URI it was fetched from
    from urllib.parse import urldefrag

    base = urldefrag(uri)[0]
    registry = http_resolver([uri], fetch=fetch, timeout=timeout)
    root = registry[base]
    if isinstance(root, dict) and "$id" not in root:
        root = {"$id": base, **root}
    registry = resolve_remote_refs(root, resolver=registry, fetch=fetch, timeout=timeout)
    bundled = bundle(root, registry) if isinstance(root, dict) else root
    text = json.dumps(bundled, indent=2, ensure_ascii=False) + "\n"

    os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
    with open(dest, "w") as f:
        f.write(text)

    cfg = _load_json(cfg_path)
    cfg.setdefault("dependencies", {})[uri] = rel
    cfg.setdefault("resolve", {})[uri] = rel
    with open(cfg_path, "w") as f:
        json.dump(cfg, f, indent=2)
        f.write("\n")

    lock = _load_json(lock_path)
    lock[uri] = {"path": rel, "sha256": _sha256(text)}
    with open(lock_path, "w") as f:
        json.dump(lock, f, indent=2, sort_keys=True)
        f.write("\n")
    return {"uri": uri, "path": rel, "sha256": lock[uri]["sha256"], "installed": True}


def install_all(
    project_dir: str = ".",
    fetch: Optional[Callable[[str], str]] = None,
    force: bool = False,
    frozen: bool = False,
    timeout: float = 10.0,
) -> list[dict]:
    """Install every dependency declared in `jsonschema.json` (the no-arg
    CLI form)."""
    cfg = _load_json(os.path.join(project_dir, _CONFIG_NAME))
    return [
        install_schema(uri, path, project_dir, fetch, force, frozen, timeout)
        for uri, path in sorted((cfg.get("dependencies") or {}).items())
    ]
