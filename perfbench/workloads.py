"""The benchmark's workloads.

Each workload is one closed loop: a single caller sends a write (a
replay run, a stepped commit or a commit group), waits for it, then
reads what it wrote the way a downstream consumer would, and only then
sends the next write. Inputs come from the engine's own generators,
seeded by ``--seed``.

A workload has three phases:

- ``setup``: synthesize inputs and warm up (counted in ``setup_s``);
- ``op``: one write plus its read, timed; raises ``InputExhausted`` when
  the input has no write left;
- ``check``: compare what the ops produced with the oracles (outside
  the timed region and outside set-up); returns the failed op count.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from agr_loader_spark.entities import (MultiEntityRunner, create_entity_tables,
                                       generate_entity_log)
from agr_loader_spark.generator import generate_binlog
from agr_loader_spark.lake.table import LakeTable
from agr_loader_spark.schema import SOURCES, TOKENS_MERGE_KEY, TOKENS_TABLE_COLUMNS
from agr_loader_spark.streaming.runner import ReplayRunner

from oracle import (binlog_oracle_digest, entity_oracle, rows_match,
                    table_digest)
from tracing import Tracer


class InputExhausted(Exception):
    """The workload's input has no write left for another op."""


@dataclass
class Context:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    scale: str  # "full" or "toy" (self-test)
    tamper: bool = False


@dataclass
class OpResult:
    events: int
    write_s: float
    read_s: float
    traced: bool
    write_span: dict = field(default_factory=dict)
    read_span: dict = field(default_factory=dict)
    commits: list = field(default_factory=list)  # engine commit records
    tables: list = field(default_factory=list)   # tables this op wrote
    bytes_written: int = 0  # data bytes the op added to its tables (traced ops)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parquet_bytes(tables, traced: bool) -> int:
    """Bytes of parquet under the tables' roots (0 for untraced ops,
    which skip the walk)."""
    if not traced:
        return 0
    return sum(os.path.getsize(os.path.join(d, f)) for t in tables
               for d, _, files in os.walk(t.root) for f in files if f.endswith(".parquet"))


def _data_commits(records: list[dict]) -> list[dict]:
    """Commits that applied change events. Schema-evolution commits carry
    no n_events; an empty segment (a schema change at an epoch's first
    lsn) commits with none; skipped segments are no-ops."""
    return [m for m in records if not m.get("skipped") and m.get("n_events")]


class Workload:
    name = ""
    sizes: dict = {}

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.size = self.sizes[ctx.scale]
        self.setup_parts: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.work, self.name, *parts)

    def span(self, name: str, traced: bool = True, **attrs):
        return self.ctx.tracer.span(name, spark=self.ctx.spark, traced=traced, **attrs)

    def _tokens_table(self, name: str) -> LakeTable:
        return LakeTable.create(self.ctx.spark, self.path(name), TOKENS_TABLE_COLUMNS,
                                key=TOKENS_MERGE_KEY, n_buckets=64)

    def _write_binlog(self, epoch_size: int) -> str:
        n = self.size["n_events"]
        path = self.path("binlog")
        with self.span("generator.generate_binlog") as s:
            generate_binlog(self.ctx.spark, n_events=n, n_docs=n // 10,
                            epoch_size=epoch_size, seed=self.ctx.seed,
                            ).write.partitionBy("epoch").parquet(path)
        self.setup_parts["generator.input_s"] = s["seconds"]
        return path


class ReplayBulk(Workload):
    """One full replay per op: plan + run over a log of two large epochs,
    split by the generator's five schema changes into seven data
    commits, into a fresh table; the consumer then scans the final
    snapshot."""

    name = "replay_bulk"
    sizes = {"full": {"n_events": 240_000}, "toy": {"n_events": 20_000}}

    def setup(self) -> None:
        self.binlog = self._write_binlog(epoch_size=self.size["n_events"] // 2)
        with self.span("setup.warmup") as s:
            t = self._tokens_table("warmup")
            ReplayRunner(self.ctx.spark, t, source_path=self.binlog).run(stop_after=2)
            _noop(t.read())
        self.setup_parts["setup.warmup_s"] = s["seconds"]
        self.tables: list[LakeTable] = []

    def op(self, i: int, traced: bool) -> OpResult:
        table = self._tokens_table(f"op{i}")
        runner = ReplayRunner(self.ctx.spark, table, source_path=self.binlog)
        b0 = _parquet_bytes([table], traced)
        with self.span("write", traced) as w:
            with self.span("streaming.runner.plan", traced):
                plan = runner.plan()
            with self.span("streaming.runner.run", traced, role="commit"):
                records = runner.run(plan=plan)
        with self.span("lake.table.read", traced) as r:
            _noop(table.read())
        self.tables.append(table)
        commits = _data_commits(records)
        return OpResult(sum(int(m["n_events"]) for m in commits), w["seconds"],
                        r["seconds"], traced, w, r, commits, [table],
                        _parquet_bytes([table], traced) - b0)

    def check(self, n_ops: int) -> int:
        expected = binlog_oracle_digest(self.ctx.spark, self.binlog)
        return sum(table_digest(t, tamper=self.ctx.tamper) != expected
                   for t in self.tables)


class ReplayTrickle(Workload):
    """Stepped replay of a log of small epochs: each op commits exactly
    one data segment (``run(plan=p, stop_after=1)``, repeated past any
    schema-change commit) into one growing table, then the consumer
    writes that commit's changelog (``changes_between``) to a noop sink."""

    name = "replay_trickle"
    sizes = {"full": {"n_events": 200_000, "epoch_size": 5_000},
             "toy": {"n_events": 20_000, "epoch_size": 1_000}}
    WARMUP_COMMITS = 2

    def setup(self) -> None:
        spark = self.ctx.spark
        self.binlog = self._write_binlog(epoch_size=self.size["epoch_size"])
        self.table = self._tokens_table("table")
        self.runner = ReplayRunner(spark, self.table, source_path=self.binlog)
        with self.span("streaming.runner.plan") as s:
            self.plan = self.runner.plan()
        self.setup_parts["streaming.runner.plan_s"] = s["seconds"]
        # warm up on the table itself: the loop then measures commits onto
        # a table that already holds state, not the first fold into an
        # empty one
        self.max_lsn: int | None = None
        with self.span("setup.warmup") as s:
            for _ in range(self.WARMUP_COMMITS):
                prev = self.table.snapshot_id
                self._commit()
                _noop(self.table.changes_between(prev, self.table.snapshot_id))
        self.setup_parts["setup.warmup_s"] = s["seconds"]

    def _commit(self) -> list[dict]:
        """Commit the next data segment, stepping past schema-change and
        empty commits on the way."""
        while True:
            before = self.table.snapshot_id
            commits = _data_commits(self.runner.run(plan=self.plan, stop_after=1))
            if commits:
                self.max_lsn = int(commits[-1]["max_lsn"])
                return commits
            if self.table.snapshot_id == before:
                raise InputExhausted(self.name)

    def op(self, i: int, traced: bool) -> OpResult:
        prev = self.table.snapshot_id
        b0 = _parquet_bytes([self.table], traced)
        with self.span("write", traced) as w:
            with self.span("streaming.runner.run", traced, role="commit"):
                commits = self._commit()
        with self.span("lake.table.changes_between", traced) as r:
            _noop(self.table.changes_between(prev, self.table.snapshot_id))
        return OpResult(sum(int(m["n_events"]) for m in commits), w["seconds"],
                        r["seconds"], traced, w, r, commits, [self.table],
                        _parquet_bytes([self.table], traced) - b0)

    def check(self, n_ops: int) -> int:
        if self.max_lsn is None:
            return 0
        expected = binlog_oracle_digest(self.ctx.spark, self.binlog, max_lsn=self.max_lsn)
        ok = table_digest(self.table, tamper=self.ctx.tamper) == expected
        return 0 if ok else n_ops  # one shared table: a wrong state fails every op


class EntityIngest(Workload):
    """One gene -> allele -> disease_annotation commit group per op (one
    epoch of the multi-entity log through ``MultiEntityRunner``), then
    the consumer looks up a fixed set of gene and allele keys."""

    name = "entity_ingest"
    sizes = {"full": {"n_events": 4_000, "epoch_size": 400},
             "toy": {"n_events": 1_200, "epoch_size": 200}}
    # generate_entity_log's default id spaces: 300 genes, 200 alleles
    GENE_KEYS = [f"{SOURCES[i % len(SOURCES)]}:g{i:05d}" for i in (0, 1, 2, 3, 150, 298, 299)]
    ALLELE_KEYS = [f"{SOURCES[i % len(SOURCES)]}:a{i:05d}" for i in (0, 1, 2, 3, 100, 198, 199)]
    WARMUP_THREADS = 3

    def setup(self) -> None:
        spark = self.ctx.spark
        path = self.path("log")
        with self.span("generator.generate_entity_log") as s:
            generate_entity_log(spark, n_events=self.size["n_events"], seed=self.ctx.seed,
                                epoch_size=self.size["epoch_size"],
                                ).write.partitionBy("epoch").parquet(path)
        self.setup_parts["generator.input_s"] = s["seconds"]
        self.source = spark.read.parquet(path)
        self.epochs = list(range(self.size["n_events"] // self.size["epoch_size"]))
        # the driver-side planning of a commit group keeps speeding up over
        # its first several groups as the JVM compiles it; warming with
        # WARMUP_THREADS concurrent groups (each on its own throwaway
        # tables and epoch) gets further down that curve per second of
        # set-up than one group at a time
        with self.span("setup.warmup") as s:
            with ThreadPoolExecutor(self.WARMUP_THREADS) as pool:
                futures = [pool.submit(self._warm_group, e) for e in range(self.WARMUP_THREADS)]
                for f in futures:
                    f.result()
        self.setup_parts["setup.warmup_s"] = s["seconds"]
        self.tables = create_entity_tables(self.ctx.spark, self.path("lake"))
        self.seen: list[tuple[int, list, list]] = []

    def _warm_group(self, epoch: int) -> None:
        tables = create_entity_tables(self.ctx.spark, self.path(f"warmup{epoch}"))
        MultiEntityRunner(self.ctx.spark, tables, self._slice(epoch)).run()
        self._lookups(tables)

    def _slice(self, epoch: int):
        return self.source.filter(F.col("epoch") == epoch)

    def _lookups(self, tables) -> tuple[list, list]:
        return (tables["gene"].lookup(self.GENE_KEYS).collect(),
                tables["allele"].lookup(self.ALLELE_KEYS).collect())

    def op(self, i: int, traced: bool) -> OpResult:
        if i >= len(self.epochs):
            raise InputExhausted(self.name)
        epoch = self.epochs[i]
        tables = list(self.tables.values())
        b0 = _parquet_bytes(tables, traced)
        with self.span("write", traced) as w:
            with self.span("entities.MultiEntityRunner.run", traced, role="commit"):
                records = MultiEntityRunner(self.ctx.spark, self.tables,
                                            self._slice(epoch)).run()
        with self.span("lake.table.lookup", traced) as r:
            genes, alleles = self._lookups(self.tables)
        self.seen.append((epoch, genes, alleles))
        commits = [m for m in records if not m.get("skipped")]
        return OpResult(self.size["epoch_size"], w["seconds"], r["seconds"], traced,
                        w, r, commits, tables, _parquet_bytes(tables, traced) - b0)

    def check(self, n_ops: int) -> int:
        if not self.seen:
            return 0
        rows = [r.asDict() for r in self.source.collect()]
        failed = 0
        for epoch, genes, alleles in self.seen:
            exp = entity_oracle(rows, epoch)
            want_g = {k: v for k, v in exp["gene"].items() if k in self.GENE_KEYS}
            want_a = {k: v for k, v in exp["allele"].items() if k in self.ALLELE_KEYS}
            if self.ctx.tamper:
                genes = genes[1:]
            if not (rows_match(genes, want_g, "primary_id")
                    and rows_match(alleles, want_a, "primary_id")):
                failed += 1
        final = entity_oracle(rows, self.seen[-1][0])
        for name, t in self.tables.items():
            if not rows_match(t.read().collect(), final[name], t.key):
                return n_ops  # the tables are shared: a wrong final state fails every op
        return failed


WORKLOADS = {w.name: w for w in (ReplayBulk, ReplayTrickle, EntityIngest)}
