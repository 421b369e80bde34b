"""The benchmark's workloads: their seeded inputs, their operations and
the checks of every operation's output against the engine's oracles.

Every operation returns ``(result, items)``: the output the check reads
and the number of work items it completed (pages for ``pages_etl``, one
query or one cascade batch otherwise). Engine entry points are looked up
on their modules at call time, so the tracing wrappers see every call.
"""

from __future__ import annotations

import multiprocessing
import os
import shutil
import time
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np
import pandas as pd

import inputs

# input sizes of every workload: the shipped corpus each query loop reads,
# pages per pipeline call, project pairs per cascade batch
SIZES = {"spatial_corpus": "sf0.1", "near_dup_corpus": "sf0.01", "pages": 6000, "pairs": 700}
SPATIAL_QUERIES = ["doc_cells", "tile_rollup_z6", "pip_rectangles", "knn_k5", "raster_roundtrip"]
NEAR_DUP_QUERIES = ["minhash_pairs", "simhash_pairs", "ngram_jaccard_pairs", "embedding_topk", "exact_dedup"]
CASCADE_OP = "cascade_batch"
PAGES_OP = "pages_pipeline"
PAGE_RICH = 8


def _duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        if os.path.exists(f"{data_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _round6(x: float) -> float:
    """Spark's ``round(x, 6)``: HALF_UP on the shortest decimal repr."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def exact_minhash_pairs(docs: pd.DataFrame, threshold: float) -> pd.DataFrame:
    """The set ``minhash_pairs``'s oracle SQL asserts the banded output
    equals: every id_a < id_b whose word-3-gram shingle sets have Jaccard
    >= threshold. Computed through an inverted shingle index: the DuckDB
    replica recomputes all 64 permutations in SQL and takes ~14 s on the
    500-document sf0.01 corpus (4-core x86 host), longer than a round of
    the loop. On that corpus both give the same 25 pairs."""
    from web_template_forensics_spark.functions.text_udfs import word_shingles

    sets = {int(i): set(word_shingles(t)) for i, t in zip(docs["doc_id"], docs["text"])}
    sets = {i: s for i, s in sets.items() if s}
    postings: dict[str, list[int]] = {}
    for i, s in sets.items():
        for sh in s:
            postings.setdefault(sh, []).append(i)
    inter: dict[tuple[int, int], int] = {}
    for ids in postings.values():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                key = (ids[x], ids[y])
                inter[key] = inter.get(key, 0) + 1
    rows = []
    for (a, b), n in inter.items():
        j = n / (len(sets[a]) + len(sets[b]) - n)
        if j >= threshold:
            rows.append((a, b, _round6(j)))
    return pd.DataFrame(rows, columns=["id_a", "id_b", "jaccard"])


def replayed_report(seed: int) -> dict:
    """The report row ``cascade_reports_per_pair`` must give the fixture
    project pair seeded ``seed``, from ``oracle.cascade_oracle``'s replay."""
    from web_template_forensics_spark.fixtures.project_pairs import project_pair_rows
    from web_template_forensics_spark.oracle.cascade_oracle import replay_cascade

    rep = replay_cascade(project_pair_rows(seed=seed))
    per = rep["per_type"]
    return {
        "overall_similarity": rep["overall_similarity"],
        "total_files": rep["total_files"],
        "prediction": rep["overall_prediction"],
        "html_score": per["html"]["aggregate_score"],
        "css_score": per["css"]["aggregate_score"],
        "jsx_score": per["jsx"]["aggregate_score"],
        "js_score": per["js"]["aggregate_score"],
        "tailwind_class_similarity": rep["tailwind_aggregate"]["class_similarity"],
        "files_matched": sum(v["files_matched"] for v in per.values()),
        "files_unmatched": sum(v["files_unmatched"] for v in per.values()),
    }


class Workload:
    """One closed loop of operations over seeded inputs."""

    name = ""
    item = ""
    op_names: list[str] = []
    plan_s: float | None = None  # set by query operations

    def __init__(self, sizes: dict, cache: str) -> None:
        self.sizes = sizes
        self.cache = cache

    def prepare(self, spark, seed: int) -> None:
        raise NotImplementedError

    def run(self, spark, op: str):
        raise NotImplementedError

    def check(self, op: str, result) -> list[str]:
        raise NotImplementedError

    def cleanup(self) -> None:
        pass


class QueryLoop(Workload):
    """Rounds of named queries over one shipped corpus; each query's rows
    are collected, as a client gets them."""

    item = "query"
    corpus = ""  # key of the corpus name in the sizes

    def prepare(self, spark, seed: int) -> None:
        self.data = inputs.corpus_dir(self.sizes[self.corpus])
        self.duck = _duck(self.data)

    def run(self, spark, op: str):
        from web_template_forensics_spark.plans import queries

        t0 = time.perf_counter()
        df = queries.QUERIES[op](spark, self.data)
        self.plan_s = time.perf_counter() - t0  # planning time before the action
        return df.toPandas(), 1

    def check(self, op: str, result) -> list[str]:
        from tools.compare_oracle import compare
        from web_template_forensics_spark.plans import queries

        if op == "minhash_pairs":
            docs = pd.read_parquet(os.path.join(self.data, "documents.parquet"))
            expected = exact_minhash_pairs(docs, queries.MINHASH_THRESHOLD)
        else:
            expected = self.duck.sql(queries.ORACLE_SQL[op]).df()
        return compare(op, result, expected)


class SpatialQueries(QueryLoop):
    name = "spatial_queries"
    op_names = SPATIAL_QUERIES
    corpus = "spatial_corpus"


class NearDupCascade(QueryLoop):
    """The near-duplicate query loop with one forensic-cascade batch per
    round: no spatial operator runs here."""

    name = "near_dup_cascade"
    item = "op"
    op_names = NEAR_DUP_QUERIES + [CASCADE_OP]
    corpus = "near_dup_corpus"

    def prepare(self, spark, seed: int) -> None:
        super().prepare(spark, seed)
        self.seed0 = seed * self.sizes["pairs"]
        self.pairs = inputs.pairs_dir(spark, self.cache, self.seed0, self.sizes["pairs"])

    def run(self, spark, op: str):
        if op != CASCADE_OP:
            return super().run(spark, op)
        from web_template_forensics_spark.operators import cascade

        files = spark.read.parquet(self.pairs)
        return cascade.cascade_reports_per_pair(files).toPandas(), 1

    def check(self, op: str, result) -> list[str]:
        if op != CASCADE_OP:
            return super().check(op, result)
        got, problems = result, []
        if sorted(got["pair_id"]) != list(range(self.sizes["pairs"])):
            problems.append(f"pair ids {sorted(got['pair_id'])[:5]}... != 0..{self.sizes['pairs'] - 1}")
        # the replay is pure Python at ~8 ms a pair: spread it over the cores
        # (forked, so the workers see this process's modules as they are)
        seeds = [self.seed0 + int(p) for p in got["pair_id"]]
        with multiprocessing.get_context("fork").Pool(len(os.sched_getaffinity(0))) as pool:
            wants = pool.map(replayed_report, seeds, chunksize=8)
            pool.close()
            pool.join()
        for r, want in zip(got.itertuples(index=False), wants):
            bad = [k for k, v in want.items() if getattr(r, k) != v]
            if bad:
                problems.append(f"pair {r.pair_id}: {bad} differ from the cascade replay")
        return problems


class PagesEtl(Workload):
    """A sequence of full pages-pipeline runs over one seeded pages shard,
    each into a fresh checkpointed sink."""

    name = "pages_etl"
    item = "page"
    op_names = [PAGES_OP]

    def prepare(self, spark, seed: int) -> None:
        self.seed = seed
        self.pages = inputs.pages_dir(spark, self.cache, seed, self.sizes["pages"], PAGE_RICH)
        self.sink_root = os.path.join(self.cache, "sinks", f"{os.getpid()}")
        shutil.rmtree(self.sink_root, ignore_errors=True)
        self.calls = 0

    def run(self, spark, op: str):
        from web_template_forensics_spark.plans import pipeline

        sink = os.path.join(self.sink_root, str(self.calls))
        self.calls += 1
        # verify_text: the pipeline raises AssertionError on any page whose
        # extracted text differs from the generator's golden text
        stats = pipeline.run_pages_pipeline(
            spark, pages=spark.read.parquet(self.pages), out_dir=sink, verify_text=True
        )
        return (sink, stats), stats["pages"]

    def check(self, op: str, result) -> list[str]:
        import pyarrow.dataset as ds

        from tools.compare_oracle import compare
        from web_template_forensics_spark.plans.queries import _q_pages_tiles_sql

        sink, stats = result
        n = self.sizes["pages"]
        problems = [] if stats["pages"] == n else [f"pipeline saw {stats['pages']} of {n} pages"]
        cols = ["tile_z", "tile_x", "tile_y", "page_count"]
        tiles = ds.dataset(os.path.join(sink, "tiles", "data"), partitioning="hive")
        got = tiles.to_table(columns=cols).to_pandas()
        con = duckdb.connect()
        want = con.sql(f"SELECT {', '.join(cols)} FROM ({_q_pages_tiles_sql(n, self.seed)})").df()
        return problems + compare("pages_tiles", got, want)

    def cleanup(self) -> None:
        shutil.rmtree(self.sink_root, ignore_errors=True)


WORKLOADS = {w.name: w for w in (PagesEtl, SpatialQueries, NearDupCascade)}


def make(name: str, cache: str) -> Workload:
    return WORKLOADS[name](dict(SIZES), cache)


def permuted(names: list[str], seed: int, round_no: int) -> list[str]:
    """The seed-permuted order of warm round ``round_no``."""
    rng = np.random.default_rng([seed & 0xFFFFFFFF, round_no])
    return [names[i] for i in rng.permutation(len(names))]
