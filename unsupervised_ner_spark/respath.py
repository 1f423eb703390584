"""Resource-root resolution for cluster deployments.

The north rule runs the engine via ``spark-submit --py-files`` — code ships
as a zip on ``sys.path`` (zipimport). Python can IMPORT from a zip, but the
dimension data (signature vocabularies, descriptor-fixture parquets) cannot
be ``open()``-ed through zipimport, and the JVM parquet reader cannot see
inside the zip at all. The standard Spark split applies:

- code:  ``--py-files unsupervised_ner_spark.zip``
- data:  ``--archives resources.zip#nerres`` (extracted per-executor into
  the container working dir), pointed at via
  ``UNSUPERVISED_NER_RESOURCES=nerres`` (set with
  ``spark.executorEnv.UNSUPERVISED_NER_RESOURCES`` for executors and the
  plain env var for the driver).

Without the env var (local checkouts, tests) the packaged ``resources/``
directory next to this file is used — identical bytes, committed.
"""

from __future__ import annotations

import os
from pathlib import Path


def resources_root() -> Path:
    env = os.environ.get("UNSUPERVISED_NER_RESOURCES")
    if env:
        return Path(env)
    return Path(__file__).parent / "resources"
