"""The ``--py-files`` artifact: the one builder of the zip that ships the
engine to executors. Standard library only, so the packaging CLI
(tools/package_pyfiles.py) runs without pyspark installed."""

from __future__ import annotations

import os
import zipfile

PACKAGE = os.path.basename(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# zip timestamps can't predate 1980; any fixed value keeps builds bit-identical
_EPOCH = (2020, 1, 1, 0, 0, 0)


def build_zip(out_path: str) -> str:
    """Write the zip to ``out_path``: the package's ``.py``/``.yaml`` files
    plus ``conf/*.yaml`` (the registry loads ``conf/strategies.yaml``
    relative to the package's parent when present). Deterministic — sorted
    entries, fixed timestamps — so its md5 doubles as a deploy
    fingerprint."""
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    entries: list[str] = []
    for dirpath, dirnames, filenames in os.walk(os.path.join(REPO, PACKAGE)):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        entries += [
            os.path.join(dirpath, fn) for fn in sorted(filenames)
            if fn.endswith((".py", ".yaml"))
        ]
    conf = os.path.join(REPO, "conf")
    if os.path.isdir(conf):
        entries += [
            os.path.join(conf, fn) for fn in sorted(os.listdir(conf))
            if fn.endswith(".yaml")
        ]
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for full in entries:
            info = zipfile.ZipInfo(os.path.relpath(full, REPO), date_time=_EPOCH)
            info.external_attr = 0o644 << 16
            with open(full, "rb") as f:
                zf.writestr(info, f.read(), zipfile.ZIP_DEFLATED)
    return out_path
