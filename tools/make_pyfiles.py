"""Package the engine for spark-submit --py-files (north rule: the job
is launched with spark-submit --py-files on a multi-executor cluster).

Produces dist/diffdataflowmlpipelines_spark.zip. Cluster launch:

  python tools/make_pyfiles.py
  spark-submit \
    --master <cluster> \
    --py-files dist/diffdataflowmlpipelines_spark.zip \
    --conf spark.sql.shuffle.partitions=<2-3x total cores> \
    --conf spark.sql.adaptive.enabled=true \
    your_job.py

Streaming state stays on the JVM heap by default. A job whose state
outgrows the executor heaps opts into RocksDB in the session it builds
(``get_spark`` sets the provider, so a ``--conf`` for it is overridden):

  get_spark(extra_conf={STATE_PROVIDER: ROCKSDB_PROVIDER})  # session.py
"""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "diffdataflowmlpipelines_spark"


def main() -> str:
    dist = os.path.join(REPO, "dist")
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, f"{PKG}.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    print(out)
    return out


if __name__ == "__main__":
    main()
