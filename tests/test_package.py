"""The spark-submit artifact in dist/ matches the package source, and the
engine does not import the reference oracles it is checked against."""

from __future__ import annotations

import ast
import glob
import zipfile

from tools.package import OUT, sources


def test_dist_zip_matches_package_source():
    with zipfile.ZipFile(OUT) as z:
        packed = {n: z.read(n) for n in z.namelist() if n.endswith(".py")}
    src = {}
    for name, path in sources().items():
        with open(path, "rb") as f:
            src[name] = f.read()
    stale = sorted(n for n in packed.keys() | src.keys() if packed.get(n) != src.get(n))
    assert not stale, f"rebuild with `python3 tools/package.py`; differs: {stale}"


def test_engine_modules_do_not_import_oracle():
    """Reference implementations live in ``oracle/``; an operator or plan
    that imported one would no longer be checked against independent
    code."""
    offenders = []
    for path in sorted(
        glob.glob("webcrawler_go_spark/operators/*.py")
        + glob.glob("webcrawler_go_spark/plans/*.py")
    ):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                # relative imports resolve against the package: ..oracle
                names = [("." * node.level) + (node.module or "")]
                names += [f"{names[0]}.{a.name}" for a in node.names]
            else:
                continue
            if any(
                n.startswith("webcrawler_go_spark.oracle") or n.lstrip(".").startswith("oracle")
                for n in names
            ):
                offenders.append(f"{path}:{node.lineno}")
    assert len(glob.glob("webcrawler_go_spark/operators/*.py")) > 10
    assert not offenders, offenders
