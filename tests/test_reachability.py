"""Every package module is reached from a production root.

The roots are the query suite (``__spark_entry__.py``) and the CLI
(``scripts/run_extract.py``, batch and streaming).  The walk follows
``import`` statements statically, function-local ones included, so a
module that neither root can load is dead code and fails this test,
unless it is one of the few listed as known and due for deletion."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "qwen_ocr_spark"
ENTRY_POINTS = ["__spark_entry__.py", "scripts/run_extract.py"]
# Known unreached and due for deletion (ROADMAP direction 3).  The test
# asserts this set exactly, so a deleted or newly reached module must be
# taken off it, and no other dead module can join it unnoticed.
KNOWN_UNREACHED = {"qwen_ocr_spark.functions.codecs"}


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for f in (base.with_suffix(".py"), base / "__init__.py"):
        if f.is_file():
            return f
    return None


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_names(path: Path):
    """Absolute imports only: the package uses no relative ones."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            yield node.module
            yield from (f"{node.module}.{a.name}" for a in node.names)


def test_every_package_module_is_reached_from_a_production_root():
    reached: set[str] = set()
    todo = [ROOT / p for p in ENTRY_POINTS]
    while todo:
        for name in _imported_names(todo.pop()):
            parts = name.split(".")
            # importing a.b.c runs a and a.b first
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                f = _module_file(prefix)
                if f is not None and prefix not in reached:
                    reached.add(prefix)
                    todo.append(f)
    modules = {_module_name(f) for f in (ROOT / PACKAGE).rglob("*.py")}
    assert sorted(modules - reached) == sorted(KNOWN_UNREACHED)
