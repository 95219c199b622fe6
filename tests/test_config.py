"""PipelineConfig holds only values the engine reads: every field, nested
ones included, must be read as an attribute somewhere in the package outside
config.py. A field nothing reads is an option a caller can set and the
engine silently ignores."""

import ast
import dataclasses
import pathlib

from scrubah_pii_spark.config import PipelineConfig

PKG = pathlib.Path(__file__).resolve().parents[1] / "scrubah_pii_spark"


def _field_names(cfg):
    for f in dataclasses.fields(cfg):
        yield f.name
        value = getattr(cfg, f.name)
        if dataclasses.is_dataclass(value):
            yield from _field_names(value)


def _attributes_read():
    read = set()
    for path in PKG.rglob("*.py"):
        if path.name == "config.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                read.add(node.attr)
    return read


def test_every_config_field_is_read():
    read = _attributes_read()
    unread = [n for n in _field_names(PipelineConfig()) if n not in read]
    assert unread == [], f"PipelineConfig fields nothing reads: {unread}"
