"""Input generation for one run, executed in a child of run.py.

    python3 perfbench/prepare.py <workload> <work dir> <seed> <size>

Writes the workload's seeded inputs under ``<work dir>/data`` and, for
``sql_resolve``, builds the DSv2 plugin jar if it is missing or stale, so
neither lands in the measured set-up time.
"""

from __future__ import annotations

import os
import sys

import datagen


def main(workload: str, work: str, seed: int, size: str) -> None:
    data = os.path.join(work, "data")
    if workload == "sql_resolve":
        datagen.write_star_tables(os.path.join(data, "star"), seed)
        sys.path.insert(0, os.getcwd())
        from lance_namespace_impls_spark.catalog.jvm_catalog import ensure_catalog_jar

        ensure_catalog_jar()
    elif workload == "pipeline_ops":
        import wl_pipeline

        datagen.write_corpus(os.path.join(data, "corpus"), *wl_pipeline.corpus_args(size))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4])
