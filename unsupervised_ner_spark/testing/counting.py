"""A ``provider_factory`` that records every construction, for the
one-provider-per-worker-process contract of ``tag_sentences``."""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass(frozen=True)
class CountingFixtureFactory:
    """Builds the a100 fixture provider and appends this process's pid to
    ``log_path``. Frozen, so each task's unpickled copy is an equal key of
    the worker tagger cache."""

    log_path: str

    def __call__(self):
        from unsupervised_ner_spark.descriptors import FixtureDescriptorProvider

        with open(self.log_path, "a") as fp:
            fp.write(f"{os.getpid()}\n")
        return FixtureDescriptorProvider.load("a100")
