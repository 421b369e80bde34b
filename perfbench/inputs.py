"""Benchmark inputs.

* ``corpus/`` -- byte copies of the ``documents`` and ``embeddings``
  tables of the repo's shipped test corpus (TESTDATA.md), which every
  query oracle and ``bench.py`` run on: ``sf0.1`` (5,000 documents) and
  ``sf0.01`` (500 documents, 500 embeddings). The query loops read them
  as they are; the seed orders the queries.
* ``pages`` -- a pages shard from ``sources.pages.build_pages_df``.
* ``pairs`` -- project pairs from ``sources.pairs.build_pair_files_df``.

Pages and pairs are pure functions of the run seed, cached on disk by
(kind, seed, size). A cache entry is a directory that counts as complete
only once its ``_SUCCESS`` marker exists, so an interrupted generation is
rebuilt instead of measured.
"""

from __future__ import annotations

import os
import shutil

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus")


def corpus_dir(name: str) -> str:
    """Directory of the shipped corpus ``name`` (``sf0.1`` or ``sf0.01``)."""
    path = os.path.join(CORPUS, name)
    if not os.path.exists(os.path.join(path, "documents.parquet")):
        raise FileNotFoundError(f"no documents.parquet under {path}")
    return path


def _complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _fresh(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)


def pages_dir(spark, cache: str, seed: int, n_pages: int, rich: int) -> str:
    """``build_pages_df(n_pages, seed=seed, rich=rich)`` as parquet."""
    from web_template_forensics_spark.sources.pages import build_pages_df

    path = os.path.join(cache, f"pages_s{seed}_n{n_pages}_r{rich}")
    if not _complete(path):
        _fresh(path)
        n_files = 2 * spark.sparkContext.defaultParallelism
        build_pages_df(spark, n_pages, seed=seed, rich=rich).repartition(n_files).write.parquet(path)
    return path


def pairs_dir(spark, cache: str, seed0: int, n_pairs: int) -> str:
    """``n_pairs`` project pairs as parquet; pair ``pid`` is the fixture
    pair seeded ``seed0 + pid``."""
    from web_template_forensics_spark.sources.pairs import build_pair_files_df

    path = os.path.join(cache, f"pairs_s{seed0}_n{n_pairs}")
    if not _complete(path):
        _fresh(path)
        build_pair_files_df(
            spark, n_pairs, seed0=seed0, partitions=spark.sparkContext.defaultParallelism
        ).write.parquet(path)
    return path
