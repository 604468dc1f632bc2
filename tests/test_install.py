"""install command analogue (plans/install.py): fetch + transitive
bundle + config/lock bookkeeping + frozen verification."""

import json

import pytest

from jsonschema_spark.plans.install import FrozenError, install_all, install_schema
from jsonschema_spark.plans.pyeval import validate_py

STORE = {
    "https://e.com/person.json":
        '{"type": "object", "properties": {"addr": {"$ref": "https://e.com/addr.json"}}}',
    "https://e.com/addr.json": '{"type": "object", "required": ["city"]}',
}


def test_install_fetches_bundles_and_locks(tmp_path):
    proj = str(tmp_path)
    r = install_schema("https://e.com/person.json", "vendor/person.json",
                       project_dir=proj, fetch=STORE.__getitem__)
    assert r["installed"] is True
    installed = json.loads((tmp_path / "vendor" / "person.json").read_text())
    # transitive ref was BUNDLED: no external $ref survives
    assert "https://e.com/addr.json" not in json.dumps(installed).replace(
        json.dumps({"$comment": ""}), "")
    assert "$defs" in installed
    cfg = json.loads((tmp_path / "jsonschema.json").read_text())
    assert cfg["dependencies"] == {"https://e.com/person.json": "vendor/person.json"}
    assert cfg["resolve"] == {"https://e.com/person.json": "vendor/person.json"}
    lock = json.loads((tmp_path / "jsonschema.lock.json").read_text())
    assert lock["https://e.com/person.json"]["sha256"]
    # second run: already installed, no refetch (fetch would KeyError on None)
    r2 = install_schema("https://e.com/person.json", "vendor/person.json",
                        project_dir=proj, fetch=None)
    assert r2["installed"] is False
    # the installed bundle actually compiles
    from jsonschema_spark import compile_schema

    compile_schema(installed)


def test_install_frozen_verifies(tmp_path):
    proj = str(tmp_path)
    with pytest.raises(FrozenError, match="not in lock"):
        install_schema("https://e.com/person.json", "vendor/person.json",
                       project_dir=proj, frozen=True)
    install_schema("https://e.com/person.json", "vendor/person.json",
                   project_dir=proj, fetch=STORE.__getitem__)
    ok = install_schema("https://e.com/person.json", "vendor/person.json",
                        project_dir=proj, frozen=True)
    assert ok["installed"] is False
    (tmp_path / "vendor" / "person.json").write_text("{}")
    with pytest.raises(FrozenError, match="checksum"):
        install_schema("https://e.com/person.json", "vendor/person.json",
                       project_dir=proj, frozen=True)


def test_install_all_from_config(tmp_path):
    (tmp_path / "jsonschema.json").write_text(json.dumps({
        "dependencies": {"https://e.com/addr.json": "vendor/addr.json"}}))
    results = install_all(project_dir=str(tmp_path), fetch=STORE.__getitem__)
    assert [r["installed"] for r in results] == [True]
    assert (tmp_path / "vendor" / "addr.json").exists()


def test_install_uri_with_fragment(tmp_path):
    r = install_schema("https://e.com/person.json#/properties/addr",
                       "vendor/p.json", project_dir=str(tmp_path),
                       fetch=STORE.__getitem__)
    assert r["installed"] is True  # defragged lookup; whole doc vendored


def test_install_frames_root_at_its_fetch_uri(tmp_path):
    """A fetched root without `$id` resolves its relative refs against the
    URI it was fetched from."""
    store = {
        "https://e.com/dir/a.json": '{"properties": {"b": {"$ref": "b.json"}}}',
        "https://e.com/dir/b.json": '{"type": "integer"}',
    }
    fetched = []

    def fetch(uri):
        fetched.append(uri)
        return store[uri]

    install_schema("https://e.com/dir/a.json", "vendor/a.json", project_dir=str(tmp_path), fetch=fetch)
    assert fetched == ["https://e.com/dir/a.json", "https://e.com/dir/b.json"]
    installed = json.loads((tmp_path / "vendor" / "a.json").read_text())
    assert validate_py(installed, {"b": 1}) and not validate_py(installed, {"b": "x"})
