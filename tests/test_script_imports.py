"""Every ``from pyshepseg_spark... import ...`` in the scripts, the
bench programs and the entry module names something that exists.

Tier-1 never runs those files (they need a cluster-sized host or a
subprocess per measurement), so a renamed or deleted public name
would otherwise only surface when someone next runs them. The scan is
textual, so it also covers the import lines inside the subprocess
code templates of ``scripts/giant_mosaic_bench.py`` and
``scripts/giant_stage_breakdown.py``. No Spark session is started.
"""

from __future__ import annotations

import importlib
import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
FILES = sorted([*ROOT.glob("scripts/*.py"), *ROOT.glob("perfbench/*.py"),
                ROOT / "bench.py", ROOT / "bench_extra.py",
                ROOT / "__spark_entry__.py"])

IMPORT_RE = re.compile(
    r"^[ \t]*from[ \t]+(pyshepseg_spark(?:\.\w+)*)[ \t]+import[ \t]+"
    r"(\([^)]*\)|(?:[^\n\\]|\\\n)*)", re.MULTILINE)


def imported_names(text: str):
    """(module, name) for each name of each engine import in text."""
    for mod, names in IMPORT_RE.findall(text):
        names = re.sub(r"#[^\n]*|\\\n", " ", names).strip("()")
        for item in names.split(","):
            name = item.split(" as ")[0].strip()
            if name:
                yield mod, name


def test_scan_finds_template_imports():
    """The scan reaches multi-line imports inside code templates."""
    text = (ROOT / "scripts/giant_stage_breakdown.py").read_text()
    got = set(imported_names(text))
    assert ("pyshepseg_spark.operators.segment",
            "paint_final_tiles") in got
    assert ("pyshepseg_spark.operators.skew", "spread_small_scan") in got


@pytest.mark.parametrize("path", FILES, ids=lambda p: p.name)
def test_engine_imports_resolve(path):
    missing = []
    for mod, name in imported_names(path.read_text()):
        m = importlib.import_module(mod)
        if hasattr(m, name):
            continue
        try:
            importlib.import_module(f"{mod}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{mod}.{name}")
    assert not missing, f"{path.name} imports missing names: {missing}"
