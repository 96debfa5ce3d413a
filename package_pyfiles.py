"""Build the spark-submit --py-files artifact (BASELINE.md deployment
target): zips the pathhier_spark package into dist/pathhier_spark.zip.

Usage:
    python package_pyfiles.py
    spark-submit --py-files dist/pathhier_spark.zip app.py
"""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.abspath(__file__))


def build(out_path: str | None = None) -> str:
    out_path = out_path or os.path.join(REPO, "dist", "pathhier_spark.zip")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    pkg = os.path.join(REPO, "pathhier_spark")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return out_path


if __name__ == "__main__":
    print(build())
