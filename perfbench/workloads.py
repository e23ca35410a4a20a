"""The benchmark workloads. Each is a closed loop with one client: the next
op starts only after the previous one returned.

A workload generates its inputs, names the small action that warms a
fresh session, prepares (untimed warm-up ops and output checks; it
returns the pass/fail of the ops it ran), yields rounds of ops, checks
each op's result outside the timed region, and runs end-of-run checks.
An op returns its result; ``check`` turns it into pass/fail. Spans name
the layer each public call belongs to.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import pyarrow.parquet as pq

import checks
import gen
from spans import Tracer


@dataclass
class Op:
    op_id: str
    run: Callable[[Any], Any]  # tracer -> result
    rows: int  # input rows the op processes
    in_bytes: int  # input file bytes the op processes
    before: Callable[[], None] | None = None  # untimed, right before ``run``


def dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class OlapCold:
    """The headline queries in a seed-permuted order each round. One op
    clears the SQL cache (untimed), rebuilds the query's plan from
    ``raw_fn``, optimizes it and runs ``count()``."""

    def __init__(self, spec: dict, seed: int, cache: str, work: str):
        self.cfg = spec["inputs"]["olap"]
        self.queries = list(spec["queries"])
        self.rng = random.Random(seed)
        self.sf_dir = os.path.join(cache, f"olap-sf{self.cfg['sf']}-seed{self.cfg['data_seed']}")
        self.oracle: dict[str, dict] = {}
        self.failed_queries: set[str] = set()
        self.expect: dict[str, int] = {}
        self.expect_hash: dict[str, str] = {}
        self.size: dict[str, tuple[int, int]] = {}

    def generate(self, registry) -> None:
        """Seed-independent tables and their DuckDB oracle results, built
        once per checkout (atomic renames)."""
        if not os.path.isdir(self.sf_dir):
            tmp = f"{self.sf_dir}.tmp{os.getpid()}"
            gen.olap_tables(tmp, self.cfg["sf"], self.cfg["data_seed"])
            os.replace(tmp, self.sf_dir)
        path = os.path.join(self.sf_dir, "oracle.json")
        if not os.path.isfile(path):
            sqls = {q: registry[q].oracle for q in self.queries if registry[q].oracle}
            with open(f"{path}.tmp{os.getpid()}", "w") as f:
                json.dump(checks.oracle_results(self.sf_dir, sqls), f)
            os.replace(f"{path}.tmp{os.getpid()}", path)
        with open(path) as f:
            self.oracle = json.load(f)

    def input_bytes(self) -> int:
        return dir_bytes(self.sf_dir)

    def warmup(self, spark, registry) -> None:
        registry["count_star"].fn(spark, self.sf_dir).collect()

    def prepare(self, spark, registry) -> list[bool]:
        """Value-hash every query's ``raw_fn`` result, the plan the ops
        build, against its oracle (this also warms plan construction before
        the first timed round), and record expected counts and input sizes.
        A query without an oracle is checked after each op: its ``raw_fn``
        result against ``fn``'s."""
        for q in self.queries:
            build = registry[q].raw_fn if q in self.oracle else registry[q].fn
            df = build(spark, self.sf_dir)
            pdf = df.toPandas()
            got = checks.value_hash(pdf)
            if q in self.oracle:
                if (got, len(pdf)) != (self.oracle[q]["hash"], self.oracle[q]["rows"]):
                    self.failed_queries.add(q)
            else:
                self.expect_hash[q] = got
            self.expect[q] = len(pdf)
            files = [f.removeprefix("file:") for f in df.inputFiles()]
            self.size[q] = (
                sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                sum(os.path.getsize(f) for f in files),
            )
        spark.catalog.clearCache()
        return []  # a failed check fails every op of its query

    def rounds(self, spark, registry):
        r = 0
        while True:
            order = list(self.queries)
            self.rng.shuffle(order)
            yield [self._op(spark, registry, q, f"r{r}.{q}") for q in order]
            r += 1

    def _op(self, spark, registry, q: str, op_id: str) -> Op:
        def run(tr):
            with tr.op(op_id):
                with tr.span("queries.build", op_id):
                    df = registry[q].raw_fn(spark, self.sf_dir)
                with tr.span("plans.optimize", op_id):
                    df._jdf.queryExecution().optimizedPlan()
                with tr.span("exec", op_id):
                    return q, df, df.count()

        rows, nbytes = self.size[q]
        return Op(op_id, run, rows, nbytes, spark.catalog.clearCache)

    def check(self, result) -> bool:
        q, df, n = result
        if q in self.failed_queries or n != self.expect[q]:
            return False
        if q in self.expect_hash:
            return checks.value_hash(df.toPandas()) == self.expect_hash[q]
        return True

    def finish(self, spark, ops: list) -> dict:
        return {}


class Export:
    """The reference export on a seeded nested-climbs corpus: one op is
    ``pipeline.run_export`` (default config) then the distributed GeoJSON
    sink over the written parquet."""

    def __init__(self, spec: dict, seed: int, cache: str, work: str):
        self.cfg = spec["inputs"]["export_climbs"]
        self.seed = seed
        self.work = work
        self.corpus = os.path.join(work, "climbs.jsonl")
        self.counts: dict = {}

    def generate(self, registry) -> None:
        self.counts = gen.climbs_corpus(self.corpus, self.cfg["documents"], self.seed)

    def input_bytes(self) -> int:
        return os.path.getsize(self.corpus)

    def warmup(self, spark, registry) -> None:
        from parquet_exporter_spark.sources.climbs import read_climbs_json

        read_climbs_json(spark, self.corpus).count()

    def prepare(self, spark, registry) -> list[bool]:
        untraced = Tracer(spark.sparkContext, False, "prepare")
        return [
            self.check(self._op(spark, f"warmup{i}").run(untraced))
            for i in range(self.cfg["warmup_ops"])
        ]

    def rounds(self, spark, registry):
        r = 0
        while True:
            yield [self._op(spark, f"r{r}")]
            r += 1

    def _op(self, spark, op_id: str) -> Op:
        from parquet_exporter_spark.pipeline import run_export
        from parquet_exporter_spark.sinks.geojson import write_feature_collection_distributed
        from parquet_exporter_spark.sources.climbs import read_climbs_json

        out = os.path.join(self.work, f"out-{op_id}")

        def run(tr):
            with tr.op(op_id):
                with tr.span("pipeline.export", op_id):
                    stats = run_export(
                        spark, read_climbs_json(spark, self.corpus), f"{out}/climbs.parquet"
                    )
                with tr.span("sinks.geojson", op_id):
                    n = write_feature_collection_distributed(
                        spark.read.parquet(f"{out}/climbs.parquet"), f"{out}/geojson"
                    )
            return out, stats, n

        return Op(op_id, run, self.cfg["documents"], os.path.getsize(self.corpus))

    def check(self, result) -> bool:
        out, stats, n = result
        shutil.rmtree(out, ignore_errors=True)
        rows = self.counts["rows"]
        return (
            stats["total_rows"] == rows
            and stats["metrics"]["rows_observed"] == rows
            and n == self.counts["with_coords"]
        )

    def finish(self, spark, ops: list) -> dict:
        return {}


class Ingest:
    """Seeded document micro-batches through the incremental near-dup
    ingest handler, then the HLL sketch commit and a served estimate.
    The first ``warmup_batches`` are ingested while preparing, the last of
    them twice: that replay must leave every store byte-identical. The
    stores grow across the run."""

    def __init__(self, spec: dict, seed: int, cache: str, work: str):
        self.cfg = spec["inputs"]["ingest_dedup"]
        self.seed = seed
        self.stores = os.path.join(work, "stores")
        self.docs = os.path.join(work, "batches")
        self.batches: list[dict] = []

    @property
    def paths(self) -> dict:
        return {k: os.path.join(self.stores, k) for k in ("index", "corpus", "rejects", "hll")}

    def generate(self, registry) -> None:
        c = self.cfg
        self.batches = gen.doc_batches(
            self.docs, c["max_batches"], c["batch_size"], c["dup_share"], self.seed
        )

    def input_bytes(self) -> int:
        return os.path.getsize(self.batches[0]["path"])

    def warmup(self, spark, registry) -> None:
        spark.read.parquet(self.batches[0]["path"]).count()

    def prepare(self, spark, registry) -> list[bool]:
        from parquet_exporter_spark.streaming.dedup_ingest import make_ingest_batch_handler

        p = self.paths
        self.handler = make_ingest_batch_handler(p["index"], p["corpus"], rejects_path=p["rejects"])
        untraced = Tracer(spark.sparkContext, False, "prepare")
        n = self.cfg["warmup_batches"]
        ok = [self.check(self._op(spark, b).run(untraced)) for b in range(n)]
        before = {k: checks.tree_digest(v) for k, v in p.items()}
        self._op(spark, n - 1).run(untraced)  # replay of the last committed batch id
        return ok + [before == {k: checks.tree_digest(v) for k, v in p.items()}]

    def rounds(self, spark, registry):
        for b in range(self.cfg["warmup_batches"], len(self.batches)):
            yield [self._op(spark, b)]

    def _op(self, spark, b: int) -> Op:
        from parquet_exporter_spark.streaming.hll_ingest import (
            hll_apply_batch,
            read_hll_registers,
            serve_hll_estimate,
        )

        op_id = f"b{b}"
        batch = self.batches[b]
        hll = self.paths["hll"]

        def run(tr):
            with tr.op(op_id):
                df = spark.read.parquet(batch["path"])
                with tr.span("streaming.dedup_batch", op_id):
                    self.handler(df, b)
                with tr.span("streaming.sketch_commit", op_id):
                    hll_apply_batch(df, b, hll, "doc_id")
                with tr.span("streaming.sketch_serve", op_id):
                    est = serve_hll_estimate(spark, read_hll_registers(spark, hll)).first()
            return b, est["est_distinct"]

        return Op(op_id, run, batch["size"], os.path.getsize(batch["path"]))

    def check(self, result) -> bool:
        b, est = result
        true = sum(x["size"] for x in self.batches[: b + 1])
        return abs(est - true) <= self.cfg["hll_tolerance"] * true

    def store_bytes(self) -> int:
        return dir_bytes(self.stores)

    def finish(self, spark, ops: list) -> dict:
        """Per-batch verdict counts and planted-duplicate recall over the
        measured batches."""
        from pyspark.sql import functions as F

        done = [int(op.op_id[1:]) for op in ops]
        verdict = {}
        for kind in ("corpus", "rejects"):
            pdf = (
                spark.read.parquet(self.paths[kind])
                .filter(F.col("ingest_batch").isin(done))
                .select("doc_id", "ingest_batch")
                .toPandas()
            )
            verdict[kind] = pdf.groupby("ingest_batch")["doc_id"].apply(set).to_dict()
        failed, planted, caught = set(), 0, 0
        for b in done:
            size = self.batches[b]["size"]
            acc = verdict["corpus"].get(b, set())
            rej = verdict["rejects"].get(b, set())
            if len(acc) + len(rej) != size or (acc | rej) != set(range(b * size, (b + 1) * size)):
                failed.add(f"b{b}")
            planted += len(self.batches[b]["planted"])
            caught += len(rej & set(self.batches[b]["planted"]))
        return {"failed": failed, "recall": caught / planted if planted else 1.0}


WORKLOADS = {"olap_cold": OlapCold, "export_climbs": Export, "ingest_dedup": Ingest}


def make(name: str, spec: dict, seed: int, cache: str, work: str):
    if name not in WORKLOADS:
        raise SystemExit(f"unknown workload {name!r}; choose from {sorted(WORKLOADS)}")
    return WORKLOADS[name](spec, seed, cache, work)
