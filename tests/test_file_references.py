"""Every repo-relative ``*.py`` path that README.md, or a comment or
docstring under ferramenta_etl_spark/, names must exist, so a deleted or
renamed module cannot leave a stale pointer behind. The history files
(SCALING.md, CHANGES.md, ROADMAP.md) record past trees and are not read.
A path after ``<rev>:`` (``git show <rev>:path``) names a file at that
revision and is skipped."""

import ast
import io
import os
import re
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "ferramenta_etl_spark"

# the reference tool's two scripts, and stdlib modules named by file
EXEMPT = ("Executavel do ETL.py", "Select de Importação de Dados.py", "wave.py")

_PATH = re.compile(r"(?<![\w./:-])((?:[\w.-]+/)*[\w-]+\.py)\b")


def _comments_and_docstrings(src: str):
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            yield tok.string
    for node in ast.walk(ast.parse(src)):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            doc = ast.get_docstring(node, clean=False)
            if doc:
                yield doc


def _texts():
    yield "README.md", (ROOT / "README.md").read_text()
    for f in sorted(PKG.rglob("*.py")):
        for text in _comments_and_docstrings(f.read_text()):
            yield str(f.relative_to(ROOT)), text


def _resolves(ref: str) -> bool:
    """At the repo root, under the package, or one level below it."""
    return (
        (ROOT / ref).exists()
        or (PKG / ref).exists()
        or any(PKG.glob(os.path.join("*", ref)))
    )


def test_named_py_files_exist():
    stale = set()
    for where, text in _texts():
        for name in EXEMPT:
            text = text.replace(name, "")
        for ref in _PATH.findall(text):
            if not _resolves(ref):
                stale.add((where, ref))
    assert not stale, sorted(stale)
