"""Build the --py-files zip for spark-submit (north_rule packaging).

The zip holds the package and the top-level Python worker entry
``pyspark_rasterstats_worker.py`` (see ``session.get_spark``), so the
entry ships wherever the engine ships.

Usage:
    python tools/make_pyfiles.py [out.zip]
    spark-submit --py-files dist/prs.zip -m python_rasterstats_spark.cli ...
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "dist", "prs.zip")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    pkg = os.path.join(REPO, "python_rasterstats_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    path = os.path.join(root, f)
                    zf.write(path, os.path.relpath(path, REPO))
        zf.write(os.path.join(REPO, "pyspark_rasterstats_worker.py"),
                 "pyspark_rasterstats_worker.py")
    print(out)


if __name__ == "__main__":
    main()
