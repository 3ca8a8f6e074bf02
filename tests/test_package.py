"""The spark-submit artifact in dist/ matches the package source."""

from __future__ import annotations

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
