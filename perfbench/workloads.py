"""The benchmark workloads: set-up, one timed unit, and its checks.

Each workload drives the package's public entry points only. A unit is
prepared (fresh work dir) and checked outside its timed window.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

from mdmpublic_spark.incremental import incremental_update
from mdmpublic_spark.operators.scoring import DEFAULT_THRESHOLD
from mdmpublic_spark.pipeline import PipelineConfig, run_pipeline

from perfbench import checks, inputs

HERE = os.path.dirname(os.path.abspath(__file__))

N_PAGES = 2000
DELTA_MODULUS = 16
N_RECAPTURES = 64
# The equivalence contract holds only when no domain block crosses its
# admission cap between base and base ∪ delta. At 2000 pages the Zipf
# head domain holds ~29% of pages and the next ones ≤ ~8%, so a domain
# cap of 300 sits in the gap for every seed; the unit check still
# asserts that nothing was grandfathered.
INCREMENTAL_CONFIG = dict(prefix_caps={"d:": 300})

# input generation is repeated and its median kept in setup_s
GEN_REPEATS = 3

N_DOCS = 1000
GOLDEN_COLS = ["url", "cluster_id", "is_golden"]


def _labeled(corpus_dir: str) -> list[tuple]:
    t = pq.read_table(
        os.path.join(corpus_dir, "labeled_pairs.parquet"),
        columns=["url_a", "url_b", "is_match"],
    )
    return checks.read_rows(t, ["url_a", "url_b", "is_match"])


def _golden(work_dir: str) -> list[tuple]:
    return checks.read_rows(
        checks.read_snapshot(os.path.join(work_dir, "golden"), GOLDEN_COLS), GOLDEN_COLS
    )


def _match_ratio(work_dir: str) -> float:
    scores = checks.read_snapshot(os.path.join(work_dir, "score"), ["score"])
    col = scores.column("score").to_pylist()
    return sum(s >= DEFAULT_THRESHOLD for s in col) / len(col) if col else 0.0


@contextmanager
def slot_partitions(spark):
    """Run set-up work with one shuffle partition per task slot, then
    restore the session's own count for the timed units.

    At the package default of 256, a pipeline pays about 80 ms of wall per
    Arrow-UDF task whatever its input size, so the incremental pass's
    bootstrap and recompute pipelines would not fit the traced run's time
    limit at it. They run the same code at this count; every timed unit,
    the incremental batch included, runs at the session's default."""
    key = "spark.sql.shuffle.partitions"
    own = spark.conf.get(key)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        yield
    finally:
        spark.conf.set(key, own)


class Workload:
    """Shared set-up bookkeeping; subclasses define prepare/run/check."""

    records = 0
    input_bytes = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.dir = os.path.join(ctx.run_dir, type(self).__name__.lower())
        os.makedirs(self.dir, exist_ok=True)
        self.setup_parts: dict[str, float] = {}

    def warmup(self) -> None:
        """Pay the start-up every Spark job of a fresh process pays, and
        nothing of the program's own: the codec libraries the JVM unpacks
        on first use, a first shuffle and parquet write, and the Python
        worker pool behind an Arrow UDF. A unit is then the program's
        first pass in the process, as a batch job runs it (README.md,
        "Warm-up")."""
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def plus_one(v):
            return v + 1

        out = os.path.join(self.dir, "warmup")
        df = self.spark.range(0, 100_000, numPartitions=self.spark.sparkContext.defaultParallelism)
        counts = df.groupBy((F.col("id") % 97).alias("k")).count()
        df.withColumn("k", plus_one("id") % 97).join(counts, "k").write.parquet(out)
        shutil.rmtree(out)

    def timed(self, key: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup_parts[key] = time.perf_counter() - t0
        return out

    def generate(self, make):
        """Generate the seed's inputs GEN_REPEATS times into fresh dirs;
        keep the first, record the median generation time."""
        times, kept = [], None
        for i in range(GEN_REPEATS):
            d = os.path.join(self.dir, f"inputs{i}")
            t0 = time.perf_counter()
            out = make(d)
            times.append(time.perf_counter() - t0)
            if kept is None:
                kept = out
            else:
                shutil.rmtree(d)
        self.setup_parts["gen.corpus_s"] = statistics.median(times)
        return kept

    def unit_dir(self, i: int) -> str:
        return os.path.join(self.dir, f"unit{i}")


class Pipeline(Workload):
    """A full run_pipeline over the seed's corpus into a fresh work dir."""

    kind = "pipeline"

    def setup(self):
        self.corpus = os.path.join(self.dir, "inputs0")
        stats = self.generate(lambda d: inputs.corpus(d, N_PAGES, self.ctx.seed))
        self.pages = os.path.join(self.corpus, "pages.parquet")
        self.records = stats["pages"]
        self.input_bytes = stats["bytes"]
        self.labeled = _labeled(self.corpus)
        self.urls = pq.read_table(self.pages, columns=["url"]).column("url").to_pylist()
        self.timed("session.warmup_s", self.warmup)

    def prepare(self, i: int) -> dict:
        return {"work_dir": self.unit_dir(i)}

    def run(self, u: dict) -> dict:
        return run_pipeline(self.spark, self.pages, u["work_dir"])

    def check(self, u: dict, summary: dict) -> dict:
        golden = _golden(u["work_dir"])
        urls = [r[0] for r in golden]
        once = len(urls) == len(set(urls)) and sorted(urls) == sorted(self.urls)
        f1 = checks.pairwise_f1(self.labeled, {r[0]: r[1] for r in golden})["f1"]
        stored, files = checks.tree_bytes(u["work_dir"])
        return {
            "ok": once and f1 >= 0.99,
            "urls_once": once,
            "f1": f1,
            "stored_ratio": stored / self.input_bytes,
            "stored_bytes": stored,
            "data_files": files,
            "pair_stats": summary["pair_stats"],
            "match_ratio": _match_ratio(u["work_dir"]),
        }


class Incremental(Workload):
    """One incremental batch folded into a fresh copy of a bootstrapped
    master: a 1-in-16 url slice plus 64 changed-url recaptures. Runs as a
    pass of the traced pipeline run (see README.md)."""

    kind = "incremental"
    recompute_span = None

    def setup(self):
        seed = self.ctx.seed

        def make(d):
            inputs.corpus(d, N_PAGES, seed)
            return inputs.split_delta(d, os.path.join(d, "split"), seed, DELTA_MODULUS, N_RECAPTURES)

        self.split = self.generate(make)
        self.corpus = os.path.join(self.dir, "inputs0")
        self.records = self.split["delta_rows"]
        self.input_bytes = self.split["delta_bytes"]
        self.config = PipelineConfig(**INCREMENTAL_CONFIG)
        self.master = os.path.join(self.dir, "master")
        with slot_partitions(self.spark):
            self.timed(
                "bootstrap_s",
                lambda: run_pipeline(self.spark, self.split["base"], self.master, self.config),
            )
        self.ctx.release()
        recaptured = set(self.split["recaptured_urls"])
        self.labeled = [
            p for p in _labeled(self.corpus) if p[0] not in recaptured and p[1] not in recaptured
        ]

    def recompute(self):
        """Frozen-profile full recompute over base ∪ delta: the expected
        golden table of every unit."""
        full = os.path.join(self.dir, "recompute")
        cfg = PipelineConfig(
            **INCREMENTAL_CONFIG, frozen_profile=os.path.join(self.master, "profile")
        )
        t0 = time.perf_counter()
        with slot_partitions(self.spark), self.ctx.tracer.span("recompute", "unit") as sp:
            run_pipeline(self.spark, self.split["union"], full, cfg)
        self.recompute_s = time.perf_counter() - t0
        self.recompute_span = sp
        self.expected = checks.digest(_golden(full))
        shutil.rmtree(full)
        self.ctx.release()

    def prepare(self, i: int) -> dict:
        wd = self.unit_dir(i)
        shutil.copytree(self.master, wd)
        return {"work_dir": wd, "before": checks.tree_bytes(wd), "batch": f"b{i}"}

    def run(self, u: dict) -> dict:
        return incremental_update(
            self.spark, self.split["delta"], u["work_dir"], self.config, batch_id=u["batch"]
        )

    def check(self, u: dict, summary: dict) -> dict:
        golden = _golden(u["work_dir"])
        got = checks.digest(golden)
        f1 = checks.pairwise_f1(self.labeled, {r[0]: r[1] for r in golden})["f1"]
        after = checks.tree_bytes(u["work_dir"])
        counters_ok = (
            summary["new_urls"] == self.split["fresh_rows"]
            and summary["changed_urls"] == N_RECAPTURES
            and summary["pair_stats"]["grandfathered_blocks"] == 0
        )
        return {
            "ok": got == self.expected and counters_ok,
            "digest": got,
            "expected": self.expected,
            "counters_ok": counters_ok,
            "f1": f1,
            "stored_ratio": (after[0] - u["before"][0]) / self.input_bytes,
            "stored_bytes": after[0] - u["before"][0],
            "data_files": after[1] - u["before"][1],
            "pair_stats": summary["pair_stats"],
            "match_ratio": _match_ratio(u["work_dir"]),
        }


# --- near-duplicate queries ----------------------------------------------

NEARDUP_COLUMNS = {
    "minhash_production": ["id_a", "id_b", "inter_n", "union_n"],
    "minhash_token_cands": ["id_a", "id_b"],
    "minhash_pairs": ["id_a", "id_b", "inter_n", "union_n"],
    "cc_jaccard_clusters": ["doc_id", "cluster_id"],
}


def neardup_queries() -> dict:
    import bench
    from mdmpublic_spark.queries import registry

    return {
        "minhash_production": bench.EXTRA["dd_minhash_production"],
        "minhash_token_cands": bench.EXTRA["dd_minhash_token_cands"],
        "minhash_pairs": bench.EXTRA["dd_minhash_pairs"],
        "cc_jaccard_clusters": registry.queries()["er_cc_jaccard_clusters"],
    }


def recorded_neardup() -> dict:
    with open(os.path.join(HERE, "recorded.json")) as f:
        return json.load(f)


class NearDup(Workload):
    """The four near-dup queries over a fixed 1000-document set whose row
    order and row-group layout follow the seed. Each writes its output as
    parquet under the unit's work dir; row counts and digests must equal
    the recorded ones."""

    kind = "neardup"

    def setup(self):
        made = self.generate(lambda d: inputs.documents(d, N_DOCS, self.ctx.seed))
        self.docs = os.path.dirname(made["path"])
        self.truth = dict(enumerate(made["truth"]))
        self.records = N_DOCS
        self.input_bytes = made["content_bytes"]
        self.queries = neardup_queries()
        self.recorded = recorded_neardup()
        self.timed("session.warmup_s", self.warmup)

    def prepare(self, i: int) -> dict:
        return {"work_dir": self.unit_dir(i), "docs": self.docs}

    def run(self, u: dict) -> dict:
        walls = {}
        for name, fn in self.queries.items():
            t0 = time.perf_counter()
            with self.ctx.tracer.span(f"query:{name}", "query"):
                fn(self.spark, u["docs"]).write.parquet(os.path.join(u["work_dir"], name))
            walls[name] = time.perf_counter() - t0
        return {"query_seconds": walls}

    def check(self, u: dict, summary: dict) -> dict:
        outputs, ok = {}, self.recorded.get("n_docs") == N_DOCS
        for name, cols in NEARDUP_COLUMNS.items():
            t = pq.read_table(os.path.join(u["work_dir"], name), columns=cols)
            got = checks.digest(checks.read_rows(t, cols))
            want = self.recorded["outputs"][name]
            outputs[name] = {"rows": t.num_rows, "digest": got}
            ok = ok and t.num_rows == want["rows"] and got == want["digest"]
        cc = pq.read_table(os.path.join(u["work_dir"], "cc_jaccard_clusters"))
        clusters = dict(zip(cc.column("doc_id").to_pylist(), cc.column("cluster_id").to_pylist()))
        stored, files = checks.tree_bytes(u["work_dir"])
        return {
            "ok": ok,
            "outputs": outputs,
            "f1": checks.clustering_f1(clusters, self.truth),
            "stored_ratio": stored / self.input_bytes,
            "stored_bytes": stored,
            "data_files": files,
        }


WORKLOADS = {"pipeline_2k": Pipeline, "neardup_1k": NearDup}
