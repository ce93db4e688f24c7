"""Packaging for multi-executor submission.

Builds the ``--py-files`` zip of the ``aisdb_spark`` package — the artifact
a cluster run ships with ``spark-submit --py-files aisdb_spark.zip job.py``
(executor python workers don't inherit the driver's cwd).
"""

from __future__ import annotations

import os
import zipfile


def package_zip(out_path: str | None = None) -> str:
    """Zip the aisdb_spark package (sources only) → path to the zip."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    out_path = out_path or os.path.join(root, "dist", "aisdb_spark.zip")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, root)
                zf.write(full, rel)
    return out_path
