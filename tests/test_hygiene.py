"""Static hygiene checks over the source tree's ASTs (no Spark session).

* Settings come from the code, never from the environment: only
  ``simplir_spark/session.py``, which holds the deployment settings
  (cores, driver memory, worker PYTHONPATH), reads ``os.environ`` /
  ``os.getenv``.
* Every ``simplir_spark`` import resolves, function-local ones included,
  so a lazy import of deleted code fails here rather than only when its
  branch runs.
* The indexed scoring path (``operators/query_indexed.py``,
  ``operators/phrase.py``, ``operators/score_pool.py``,
  ``operators/postings_store.py`` and ``operators/batch_kernel.py``) and
  the index build (``operators/index_build.py``) run on Arrow and numpy
  only: no pandas import, conversion, row iteration or groupby; the
  scoring pool, the postings reads and the batch kernel import no
  pyspark, and importing them in a fresh interpreter loads none.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "simplir_spark"


def _sources() -> list[Path]:
    files = [
        *sorted(PACKAGE.rglob("*.py")),
        ROOT / "__spark_entry__.py",
        ROOT / "bench_scaling.py",
        *sorted((ROOT / "perfbench").glob("*.py")),
        *sorted((ROOT / "tests").glob("*.py")),
    ]
    return [f for f in files if f.exists()]


def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _env_reads(tree: ast.Module) -> list[int]:
    """Line numbers where ``tree`` reads the process environment:
    ``<os>.environ`` / ``<os>.getenv`` under any alias of ``os``, or
    ``environ`` / ``getenv`` imported from ``os``."""
    aliases = {"os"}
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            aliases |= {a.asname or a.name for a in node.names if a.name == "os"}
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in ("environ", "getenv") for a in node.names):
                lines.append(node.lineno)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr in ("environ", "getenv")
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            lines.append(node.lineno)
    return sorted(lines)


def test_only_session_reads_environment():
    offenders = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.relative_to(PACKAGE).as_posix() == "session.py":
            continue
        lines = _env_reads(_tree(path))
        if lines:
            offenders[path.relative_to(ROOT).as_posix()] = lines
    assert not offenders, offenders


def _package_imports(path: Path, tree: ast.Module):
    """(line, module, name or None) of every ``simplir_spark`` import in
    ``tree``, at any depth; relative imports are resolved against the
    file's package."""
    rel = path.relative_to(ROOT).with_suffix("").parts
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "simplir_spark":
                    yield node.lineno, a.name, None
        elif isinstance(node, ast.ImportFrom):
            module = node.module or ""
            if node.level:
                base = rel[: len(rel) - node.level]
                module = ".".join([*base, module] if module else base)
            if module.split(".")[0] == "simplir_spark":
                for a in node.names:
                    yield node.lineno, module, a.name


def _found(module: str) -> bool:
    try:
        return importlib.util.find_spec(module) is not None
    except ModuleNotFoundError:  # a parent is missing or is not a package
        return False


def test_package_imports_resolve():
    unresolved = []
    for path in _sources():
        for line, module, name in _package_imports(path, _tree(path)):
            if not _found(module):
                target = module
            elif name in (None, "*") or hasattr(importlib.import_module(module), name):
                continue
            elif _found(f"{module}.{name}"):
                continue
            else:
                target = f"{module}.{name}"
            unresolved.append(f"{path.relative_to(ROOT).as_posix()}:{line} {target}")
    assert not unresolved, unresolved


ARROW_ONLY = (
    "operators/query_indexed.py", "operators/phrase.py", "operators/index_build.py", "operators/score_pool.py",
    "operators/postings_store.py", "operators/batch_kernel.py",
)
PANDAS_IDIOMS = ("to_pandas", "itertuples", ".groupby(", "import pandas", "from pandas")


def test_scoring_path_has_no_pandas():
    found = {}
    for rel in ARROW_ONLY:
        text = (PACKAGE / rel).read_text()
        hits = [s for s in PANDAS_IDIOMS if s in text]
        if hits:
            found[rel] = hits
    assert not found, found


def _imports_pyspark(rel: str) -> list[str]:
    tree = _tree(PACKAGE / rel)
    names = [a.name for n in ast.walk(tree) if isinstance(n, ast.Import) for a in n.names]
    names += [n.module or "" for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)]
    return [m for m in names if m.split(".")[0] == "pyspark"]


def test_score_pool_imports_no_pyspark():
    """The scoring pool's workers run numpy and Arrow only; the module
    that forks them imports nothing of pyspark."""
    assert not _imports_pyspark("operators/score_pool.py")


def test_postings_store_imports_no_pyspark():
    """The driver path's postings reads (row-group directory and cache)
    run on pyarrow alone."""
    assert not _imports_pyspark("operators/postings_store.py")


def test_batch_kernel_imports_no_pyspark():
    """The batch kernel and the model formulas it shares with the
    per-query kernel run on numpy alone, as a pool worker runs them."""
    assert not _imports_pyspark("operators/batch_kernel.py")


def test_serving_modules_load_no_pyspark():
    """Importing the scoring pool, the postings reads and the batch
    kernel in a fresh interpreter loads no pyspark module at all: the
    checks above read only each module's own import statements, not
    what its package and its imports load."""
    code = (
        "import sys\n"
        "import simplir_spark.operators.batch_kernel\n"
        "import simplir_spark.operators.postings_store\n"
        "import simplir_spark.operators.score_pool\n"
        "print(sorted(m for m in sys.modules if m.split('.')[0] == 'pyspark'))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]", out.stdout[:500]
