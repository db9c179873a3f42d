"""Tooling guard: the commands the docs name exist, and every script at
least compiles and parses its arguments. No SparkSession is started."""

from __future__ import annotations

import py_compile
import re
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = ROOT / "scripts"
DOCS = [ROOT / "README.md", ROOT / ".claude" / "skills" / "verify" / "SKILL.md"]


def _doc_text() -> str:
    return "\n".join(p.read_text() for p in DOCS)


def test_scripts_named_in_docs_exist():
    named = set(re.findall(r"scripts/([\w.-]+\.(?:py|sh))", _doc_text()))
    assert named, "README.md / SKILL.md name no scripts"
    missing = sorted(n for n in named if not (SCRIPTS / n).is_file())
    assert not missing, f"docs name missing scripts: {missing}"


def test_bench_extra_modes_named_in_docs_exist():
    modes = set(re.findall(
        r'mode == "(\w+)"', (ROOT / "bench_extra.py").read_text()
    ))
    named = set(re.findall(r"bench_extra\.py (\w+)", _doc_text()))
    assert not named - modes, f"docs name missing modes: {named - modes}"


@pytest.mark.parametrize(
    "path", sorted(p for p in SCRIPTS.iterdir() if p.is_file()),
    ids=lambda p: p.name,
)
def test_script_compiles(path, tmp_path):
    py_compile.compile(
        str(path), cfile=str(tmp_path / "out.pyc"), doraise=True
    )


@pytest.mark.parametrize("script", ["lockstep_pairs.py", "scaling_report.py"])
def test_script_help_exits_zero(script):
    proc = subprocess.run(
        [sys.executable, f"scripts/{script}", "--help"],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert "usage:" in proc.stdout
