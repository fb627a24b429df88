"""The workloads: what one pass runs and how each output is checked.

A pass is a fixed list of jobs. A job is one catalog query or one Dampr
pipeline, run the way a user would run it: build, then an action whose
result reaches the driver. Each job returns its output; ``check`` compares
it with an expectation computed once per seed outside the timed region.

When a ``Tracer`` is active, every call into a library layer is wrapped in
a span that also sets a Spark job group ``p<pass>|<job>|<kind>``, so the
event log can be reduced per pass, job and layer.
"""

from __future__ import annotations

import gc
import hashlib
import math
import os
import pickle
import re
import shutil
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import inputs
from perfbench.trace import Tracer

# ``catalog``: oracle-checked catalog queries on one 2-copy replica. Six
# cheap relational, text and event queries, bound by the per-query floor
# (builder, planning, job scheduling), take similar times and hold the median
# job between them; the audit query, bound by build-time pins, pandas UDFs
# and its many small jobs, sets the tail.
CATALOG_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "semi_join_by_count",
    "wordcount",
    "exact_dedup",
    "sessionization",
    "lsh_band_audit",
)


@dataclass
class PassContext:
    """What a job needs while it runs: the session, the pass number and,
    on a traced run, the tracer."""

    spark: object
    pass_no: int
    tracer: Tracer | None = None
    _groups: list = field(default_factory=list)

    @contextmanager
    def span(self, job: str, kind: str, **attrs):
        """Trace one call into a layer; a no-op on an untraced run."""
        if self.tracer is None:
            yield None
            return
        group = (f"p{self.pass_no}|{job}|{kind}", f"{job} {kind}")
        sc = self.spark.sparkContext
        sid = self.tracer.open(job, kind, group=group[0], **attrs)
        self._groups.append(group)
        sc.setJobGroup(*group)
        try:
            yield sid
        finally:
            self.tracer.close(sid)
            self._groups.pop()
            if self._groups:
                sc.setJobGroup(*self._groups[-1])
            else:
                sc._jsc.clearJobGroup()


def _norm_cell(x):
    if isinstance(x, float) and math.isnan(x):
        return "NaN"
    if isinstance(x, (list, tuple)):
        return tuple(_norm_cell(v) for v in x)
    return x


def normalize(cols, rows) -> tuple[list, list]:
    """Order-insensitive form of a result: columns sorted by name, rows
    sorted by repr. The same rule the repository's oracle tests apply."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of the persisted RDDs, in one JVM call: iterating the Java map
    through py4j costs tens of milliseconds inside a traced job."""
    keys = spark.sparkContext._jsc.getPersistentRDDs().keySet().toString()
    return {int(k) for k in re.findall(r"\d+", keys)}


def release(spark) -> None:
    """Hygiene between passes: drop every persisted RDD, blocking until the
    blocks are gone, clear the job group, and collect garbage in the driver
    and the JVM, so every pass starts from the same heap state."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    spark.sparkContext._jsc.clearJobGroup()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _storage_mb(spark, ids: set[int]) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(
        (i.memSize() + i.diskSize()) / (1024.0 * 1024.0) for i in infos if i.id() in ids
    )


class Workload:
    name = ""
    # Seconds of ``--seconds`` budgeted per warm pass; sets the number of
    # warm passes, and with it the warm work, which is the same on every
    # commit compared.
    pass_budget_s = 0.0
    # Tables each run reads through ``sources.read_table``; empty for the DSL.
    tables: tuple[str, ...] = ()

    def prepare(self, work_dir: str, seed: int) -> float:
        """Generate inputs and expectations; return generation seconds."""
        raise NotImplementedError

    def jobs(self) -> list[str]:
        raise NotImplementedError

    def run_job(self, ctx: PassContext, job: str):
        raise NotImplementedError

    def check(self, job: str, result) -> bool:
        raise NotImplementedError

    def input_mb(self) -> float:
        raise NotImplementedError


class Catalog(Workload):
    """Named catalog queries over a seeded replica of the base tables,
    checked against the library's DuckDB oracle SQL."""

    name = "catalog"
    # A warm pass takes about 5-6 s on a 4-core host: four timed passes.
    # With the C1-only JIT (see ``run.Session.conf``) the pass after the
    # cold one is within a few percent of the later ones.
    pass_budget_s = 5.0
    tables = inputs.TABLES

    def __init__(self, queries: tuple[str, ...], n_copies: int):
        self.queries = queries
        self.n_copies = n_copies
        self.data_dir = ""
        self.expected: dict[str, tuple] = {}

    def prepare(self, work_dir: str, seed: int) -> float:
        from dampr_spark.plans import oracle_map

        self.data_dir, gen_s = inputs.catalog(work_dir, seed, self.n_copies)
        sql = oracle_map()
        con = None
        try:
            for q in self.queries:
                # Keyed by the oracle SQL, so a changed oracle is re-run.
                digest = hashlib.sha256(sql[q].encode()).hexdigest()[:16]
                path = os.path.join(self.data_dir, f"expected-{q}-{digest}.pkl")
                if os.path.exists(path):
                    with open(path, "rb") as f:
                        self.expected[q] = pickle.load(f)
                    continue
                if con is None:
                    con = self._oracle_db(work_dir)
                rel = con.sql(sql[q])
                self.expected[q] = normalize(list(rel.columns), rel.fetchall())
                with open(f"{path}.tmp{os.getpid()}", "wb") as f:
                    pickle.dump(self.expected[q], f)
                os.replace(f"{path}.tmp{os.getpid()}", path)
        finally:
            if con is not None:
                con.close()
        return gen_s

    def _oracle_db(self, work_dir: str):
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'tmp')}'")
        for t in self.tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
            )
        return con

    def jobs(self) -> list[str]:
        return list(self.queries)

    def run_job(self, ctx: PassContext, job: str):
        from dampr_spark.plans.catalog import get_query

        spark = ctx.spark
        with ctx.span(job, "job") as sid:
            before = persistent_rdd_ids(spark) if sid is not None else set()
            with ctx.span(job, "build"):
                df = get_query(job).builder(spark, self.data_dir)
            if sid is not None:
                pinned = persistent_rdd_ids(spark) - before
                attrs = ctx.tracer.spans[sid].attrs
                attrs["pinned_rdds"] = len(pinned)
                attrs["pinned_mb"] = _storage_mb(spark, pinned) if pinned else 0.0
                with ctx.span(job, "plan"):
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                attrs["analysis_s"] = _phase_s(qe, "analysis")
            with ctx.span(job, "exec"):
                rows = df.collect()
        return list(df.columns), rows

    def check(self, job: str, result) -> bool:
        return normalize(*result) == self.expected[job]

    def input_mb(self) -> float:
        return sum(
            os.path.getsize(os.path.join(self.data_dir, f"{t}.parquet")) for t in self.tables
        ) / (1024.0 * 1024.0)


def _phase_s(qe, phase: str) -> float:
    """Duration of one QueryPlanningTracker phase, in seconds."""
    summary = qe.tracker().phases().get(phase)
    return summary.get().durationMs() / 1e3 if summary.isDefined() else 0.0


class DslWordStats(Workload):
    """The fluent Dampr API over a seeded Zipf corpus: word count, the
    word-stats DAG (shared checkpoint root, fold_by, a_group_by().sum(),
    join), a group_by().reduce() and a sink_tsv, checked against a pure
    Python ``Counter`` over the same corpus."""

    name = "dsl_wordstats"
    # A pass takes about 10 s on a 4-core host, nearly all of it per-job
    # and per-task overhead (a quarter of the corpus takes as long): two
    # passes.
    pass_budget_s = 10.0

    def __init__(self, n_lines: int, vocab_size: int):
        self.n_lines = n_lines
        self.vocab_size = vocab_size
        self.path = ""
        self.sink_root = ""

    def prepare(self, work_dir: str, seed: int) -> float:
        self.path, gen_s = inputs.corpus(work_dir, seed, self.n_lines, self.vocab_size)
        self.sink_root = os.path.join(work_dir, "sink")
        counts: Counter = Counter()
        with open(self.path) as f:
            for line in f:
                counts.update(line.split())
        total = sum(counts.values())
        lengths: Counter = Counter()
        prefixes: dict[str, int] = Counter()
        for w, c in counts.items():
            lengths[len(w)] += c
            prefixes[w[:2]] += 1
        self.counts = dict(counts)
        self.total = total
        self.lengths = dict(lengths)
        self.avg_len = sum(k * v for k, v in lengths.items()) / float(total)
        self.prefixes = dict(prefixes)
        return gen_s

    def jobs(self) -> list[str]:
        return ["word_count", "word_stats", "group_reduce", "sink_tsv"]

    def _words(self):
        from dampr_spark.api import Dampr

        return Dampr.text(self.path).flat_map(lambda line: line.split())

    def run_job(self, ctx: PassContext, job: str):
        from dampr_spark.api import Dampr

        Dampr.use_session(ctx.spark)
        with ctx.span(job, "job"):
            if job == "word_count":
                pipe = (
                    self._words()
                    .fold_by(lambda w: w, value=lambda _w: 1, binop=lambda x, y: x + y)
                    .sort_by(lambda wc: -wc[1])
                )
                with ctx.span(job, "run"):
                    out = pipe.run()
                with ctx.span(job, "read"):
                    return out.read()
            if job == "word_stats":
                top = self._words().count(lambda w: w).checkpoint().sort_by(lambda wc: -wc[1])
                total = top.fold_by(
                    key=lambda _w: 1, value=lambda wc: wc[1], binop=lambda x, y: x + y
                )
                lengths = top.fold_by(
                    lambda wc: len(wc[0]), value=lambda wc: wc[1], binop=lambda x, y: x + y
                ).sort_by(lambda lc: lc[0])
                avg = (
                    lengths.map(lambda lc: lc[0] * lc[1])
                    .a_group_by(lambda _x: 1)
                    .sum()
                    .join(total)
                    .reduce(lambda s, t: next(s)[1] / float(next(t)[1]))
                )
                with ctx.span(job, "run"):
                    outs = Dampr.run(total, top, lengths, avg)
                with ctx.span(job, "read"):
                    return [o.read() for o in outs]
            if job == "group_reduce":
                pipe = self._words().group_by(lambda w: w[:2]).reduce(
                    lambda _k, ws: len(set(ws))
                )
                with ctx.span(job, "run"):
                    out = pipe.run()
                with ctx.span(job, "read"):
                    return out.read()
            if job == "sink_tsv":
                path = os.path.join(self.sink_root, f"p{ctx.pass_no}")
                shutil.rmtree(path, ignore_errors=True)
                pipe = self._words().fold_by(
                    lambda w: w, value=lambda _w: 1, binop=lambda x, y: x + y
                )
                with ctx.span(job, "sink"):
                    pipe.sink_tsv(path)
                return path
        raise ValueError(f"unknown job {job}")

    def _counts_ok(self, pairs) -> bool:
        counts = [c for _w, c in pairs]
        return dict(pairs) == self.counts and all(a >= b for a, b in zip(counts, counts[1:]))

    def check(self, job: str, result) -> bool:
        if job == "word_count":
            return self._counts_ok(result)
        if job == "word_stats":
            total, top, lengths, avg = result
            return (
                total == [(1, self.total)]
                and self._counts_ok(top)
                and lengths == sorted(self.lengths.items())
                and len(avg) == 1
                and math.isclose(avg[0][1], self.avg_len, rel_tol=1e-9)
            )
        if job == "group_reduce":
            return result == sorted(self.prefixes.items())
        if job == "sink_tsv":
            got = {}
            for name in sorted(os.listdir(result)):
                if name.startswith("part-"):
                    with open(os.path.join(result, name)) as f:
                        for line in f:
                            w, c = line.rstrip("\n").split("\t")
                            got[w] = int(c)
            shutil.rmtree(result, ignore_errors=True)
            return got == self.counts
        raise ValueError(f"unknown job {job}")

    def input_mb(self) -> float:
        return os.path.getsize(self.path) / (1024.0 * 1024.0)


def make(name: str) -> Workload:
    if name == "dsl_wordstats":
        return DslWordStats(n_lines=20_000, vocab_size=50_000)
    if name == "catalog":
        return Catalog(CATALOG_QUERIES, n_copies=2)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("dsl_wordstats", "catalog")
