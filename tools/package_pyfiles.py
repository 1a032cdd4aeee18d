"""Build the --py-files artifact: dist/text_extract_api_spark.zip.

The north rule ships the engine "via spark-submit --py-files" — executors
(and, in client mode, the driver) import the package from this zip, not
from a checkout. ``text_extract_api_spark.pyfiles.build_zip`` decides
what goes in it; the same builder ships the package automatically on a
master with separate executor JVMs. Needs only the standard library.

Usage:
    python tools/package_pyfiles.py [out_zip]
    spark-submit --py-files dist/text_extract_api_spark.zip \
        jobs/spans_extract.py --sf-dir ... --out ...
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from text_extract_api_spark.pyfiles import PACKAGE, REPO, build_zip  # noqa: E402

if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "dist", f"{PACKAGE}.zip")
    print(build_zip(out))
