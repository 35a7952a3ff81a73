"""The workloads. Each is a closed loop with one client: an op runs
only after the previous one has finished and been checked.

A workload generates its inputs in ``prepare`` (outside any timer),
exposes the ops of one pass, runs one op under the timer (``run``) and
then checks and cleans up after it (``check``), again outside the timer.
``run_traced`` is the same op with spans at its layer boundaries; it
returns per-layer figures for that op. ``layer_figures`` measures, after
the traced passes, what the ops themselves cannot show.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

from perfbench import listings
from perfbench.expected import Expectations, REPO, relocate_fixture_dirs

SF = "0.01"
SF_DIR = os.path.join(REPO, "perfbench", "data", f"sf{SF}")


@dataclass
class Op:
    name: str
    input_bytes: int
    arg: object = None


class Workload:
    name = ""

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.rng = random.Random(seed)
        self.check_s = 0.0  # spent in the checks of untimed ops

    def prepare(self) -> None:
        """Generate the inputs."""

    def warmup(self) -> None:
        """One untimed op, so the timed ops do not pay first-use costs."""

    def pass_ops(self) -> list[Op]:
        raise NotImplementedError

    def run(self, op: Op):
        raise NotImplementedError

    def check(self, op: Op, result) -> list[str]:
        return []

    def run_checked(self, op: Op) -> None:
        """An untimed op whose failed check stops the run."""
        t = time.perf_counter()
        result = self.run(op)
        print(f"perfbench: warm-up {op.name}={time.perf_counter() - t:.3f}", file=sys.stderr, flush=True)
        t = time.perf_counter()
        problems = self.check(op, result)
        self.check_s += time.perf_counter() - t
        if problems:
            raise RuntimeError(f"untimed op {op.name} failed its check: {problems}")

    def run_traced(self, op: Op, tracer) -> tuple[object, dict[str, float]]:
        return self.run(op), {}

    def layer_figures(self, tracer, counters) -> dict[str, float]:
        """Per-layer figures measured apart from the ops, after the
        traced passes."""
        return {}


# --- listings ------------------------------------------------------------


class ListingsBatch(Workload):
    """A crawl batch through the batch transform: scan → parse → CSV."""

    name = "listings_batch"
    batches = 2
    files_per_batch = 40  # about 14 MB: the fixed per-op cost is about a fifth of an op

    def prepare(self) -> None:
        files = listings.make_files(self.seed, 0, self.batches * self.files_per_batch)
        self.pool = []
        for b in range(self.batches):
            chunk = files[b * self.files_per_batch:(b + 1) * self.files_per_batch]
            path = os.path.join(self.work, "landing", f"b{b}")
            listings.write_files(chunk, path)
            self.pool.append((path, chunk))
        self._n = 0

    def _op(self, b: int) -> Op:
        path, chunk = self.pool[b]
        return Op(f"batch{b}", sum(f.nbytes for f in chunk), b)

    def warmup(self) -> None:
        """Two untimed passes: op latency keeps falling over the first
        few ops of a fresh session (JIT, Python worker start)."""
        for b in list(range(self.batches)) * 2:
            self.run_checked(self._op(b))

    def pass_ops(self) -> list[Op]:
        order = self.rng.sample(range(self.batches), self.batches)
        return [self._op(b) for b in order]

    def _out(self) -> str:
        self._n += 1
        return os.path.join(self.work, "out", f"op{self._n}")

    def run(self, op: Op):
        from parcialbigdata_spark.pipeline.parse import compat_view, exploded_cards, read_landing
        from parcialbigdata_spark.pipeline.sink import write_csv_distributed

        out = self._out()
        raw = read_landing(self.spark, self.pool[op.arg][0])
        write_csv_distributed(compat_view(exploded_cards(raw)), out)
        return out

    def check(self, op: Op, out) -> list[str]:
        try:
            got = sorted(listings.read_partitioned_csv(out))
        finally:
            shutil.rmtree(out, ignore_errors=True)
        want = sorted(r for f in self.pool[op.arg][1] for r in f.rows)
        if got != want:
            return [f"{op.name}: {len(got)} CSV rows differ from the {len(want)} expected"]
        return []

    def run_traced(self, op: Op, tracer):
        with tracer.span("pipeline"):
            return self.run(op), {}

    def _split(self, op: Op, tracer) -> dict[str, float]:
        """The op as three materialised steps, so each one's time shows."""
        from parcialbigdata_spark.pipeline.parse import compat_view, exploded_cards, read_landing
        from parcialbigdata_spark.pipeline.sink import write_csv_distributed

        out = self._out()
        figures = {}
        raw = cards = None
        try:
            with tracer.span("pipeline.scan") as s:
                raw = read_landing(self.spark, self.pool[op.arg][0]).persist()
                raw.count()
            figures["pipeline.scan_s"] = s.seconds
            with tracer.span("pipeline.parse") as s:
                cards = exploded_cards(raw).persist()
                cards.count()
            figures["pipeline.parse_s"] = s.seconds
            with tracer.span("pipeline.sink") as s:
                write_csv_distributed(compat_view(cards), out)
            figures["pipeline.sink_s"] = s.seconds
        finally:
            for df in (cards, raw):
                if df is not None:
                    df.unpersist()
        problems = self.check(op, out)
        if problems:
            raise RuntimeError(f"untimed op {op.name} failed its check: {problems}")
        return figures

    def layer_figures(self, tracer, counters) -> dict[str, float]:
        """Scan, parse and sink times (median over the batches); the
        streaming path's figures (median over three waves after one
        warm-up wave); and the parse kernel alone: one thread, no Spark,
        over batch 0."""
        from parcialbigdata_spark.pipeline.html_extract import extract_cards

        splits = [self._split(self._op(b), tracer) for b in range(self.batches)]
        incremental = ListingsIncremental(self.spark, self.seed, os.path.join(self.work, "incremental"))
        incremental.prepare()
        incremental.warmup()
        for _ in range(3):
            op = incremental.pass_ops()[0]
            _, figures = incremental.run_traced(op, tracer, counters)
            problems = incremental.check(op, None)
            if problems:
                raise RuntimeError(f"untimed op {op.name} failed its check: {problems}")
            splits.append(figures)
        out = {
            k: statistics.median(s[k] for s in splits if k in s)
            for k in {k for s in splits for k in s}
        }
        chunk = self.pool[0][1]
        t = time.perf_counter()
        for f in chunk:
            extract_cards(f.text)
        out["pipeline.extract_cards.mb_per_s"] = (
            sum(f.nbytes for f in chunk) / 1e6 / (time.perf_counter() - t)
        )
        return out


class ListingsIncremental(Workload):
    """Small waves landing in one persistent dir, each drained by an
    availableNow streaming query on one checkpoint for the whole run.
    The traced ``listings_batch`` run drives it for the streaming
    layer's figures."""

    wave_files = 10
    empty_every = 5  # two of every ten files hold no listing cards

    def prepare(self) -> None:
        self.landing = os.path.join(self.work, "landing")
        self.checkpoint = os.path.join(self.work, "checkpoint")
        self.store_root = os.path.join(self.work, "store")
        os.makedirs(self.landing)
        self._next = 0

    def _op(self) -> Op:
        """The next wave, generated here, before any timer starts."""
        w = self._next
        self._next += 1
        wave = listings.make_files(
            self.seed, w * self.wave_files, self.wave_files, empty_every=self.empty_every
        )
        return Op(f"wave{w}", sum(f.nbytes for f in wave), wave)

    def warmup(self) -> None:
        self.run_checked(self._op())

    def pass_ops(self) -> list[Op]:
        return [self._op()]

    def _start(self):
        from parcialbigdata_spark.pipeline.storage import LocalObjectStore
        from parcialbigdata_spark.streaming.pipeline import stream_landing_to_csv

        return stream_landing_to_csv(
            self.spark, self.landing, self.checkpoint,
            store=LocalObjectStore(self.store_root), available_now=True,
        )

    def run(self, op: Op):
        from parcialbigdata_spark.streaming.pipeline import run_available_now

        listings.write_files(op.arg, self.landing)
        run_available_now(self._start())
        return None

    def check(self, op: Op, _result) -> list[str]:
        problems = []
        csv_dir = os.path.join(self.store_root, "parcials")
        err_dir = os.path.join(self.store_root, "errors")
        for f in op.arg:
            date = f.name[:-len(".html")]
            csv_path = os.path.join(csv_dir, f"{date}.csv")
            err_path = os.path.join(err_dir, f"{date}.error.json")
            have = [p for p in (csv_path, err_path) if os.path.exists(p)]
            if len(have) != 1:
                problems.append(f"{f.name}: {len(have)} output objects, want exactly 1")
                continue
            if f.rows:
                if have[0] != csv_path:
                    problems.append(f"{f.name}: error object for a file with cards")
                elif sorted(listings.read_csv_object(csv_path)) != sorted(f.rows):
                    problems.append(f"{f.name}: CSV rows differ from the generated ones")
            elif have[0] != err_path:
                problems.append(f"{f.name}: CSV object for a file without cards")
            else:
                with open(err_path, encoding="utf-8") as fh:
                    if json.load(fh).get("source") != f.name:
                        problems.append(f"{f.name}: error object names the wrong source")
        written = sum(len(os.listdir(d)) for d in (csv_dir, err_dir) if os.path.isdir(d))
        if written != len(op.arg):
            problems.append(f"{written} objects in the store, want one per landed file")
        for d in (csv_dir, err_dir):
            shutil.rmtree(d, ignore_errors=True)
        return problems

    def run_traced(self, op: Op, tracer, counters=None):
        from parcialbigdata_spark.streaming.pipeline import run_available_now

        listings.write_files(op.arg, self.landing)
        if counters is not None:
            counters.take()
        with tracer.span("streaming.start") as s:
            query = self._start()
        figures = {"streaming.start_s": s.seconds}
        with tracer.span("streaming.drain") as s:
            run_available_now(query)
        figures["streaming.drain_s"] = s.seconds
        keys = {
            "streaming.trigger_ms": "triggerExecution",
            "streaming.add_batch_ms": "addBatch",
            "streaming.wal_commit_ms": "walCommit",
            "streaming.latest_offset_ms": "latestOffset",
            "streaming.query_planning_ms": "queryPlanning",
        }
        progress = query.recentProgress
        for metric, key in keys.items():
            figures[metric] = float(sum(p.durationMs.get(key, 0) for p in progress))
        if counters is not None:
            figures["streaming.jobs_per_file"] = counters.take()["spark.jobs"] / len(op.arg)
        return None, figures


# --- registry queries ----------------------------------------------------


class RegistryQueries(Workload):
    """Registry queries over the fixture tables; an op is the registry
    call plus ``collect()`` of the full result."""

    name = "registry_queries"
    queries = (
        # read-only analytics: scan, shuffle, planning, iterative graph loops
        "q1_pricing_summary",
        "q9_profit_by_nation_year",
        "window_top_orders_per_customer",
        "pagerank_trade_graph",
        "minhash_near_dups_documents",
        "cosine_topk_embeddings",
        # index maintenance: bucketed writes, appends, compaction with a
        # catalog swap, per-epoch streaming sinks, media decode
        "streaming_ahash_index_media",
    )
    #: Run once each after the traced passes, for the dedup and ANN
    #: stores' spans; too slow (6–7 s each) to run in every pass.
    layer_queries = (
        "streaming_dedup_index_documents",
        "streaming_ivf_index_embeddings",
    )

    def __init__(self, spark, seed: int, work: str):
        super().__init__(spark, seed, work)
        from parcialbigdata_spark import queries

        relocate_fixture_dirs(queries)
        self.registry = queries.QUERIES
        self.expect = Expectations(SF, SF_DIR, queries.ORACLES)
        self.tmp = os.environ.get("TMPDIR", "")

    def prepare(self) -> None:
        """Load the expected results (a stale one is recomputed here):
        check work, so it counts into ``check_s``."""
        t = time.perf_counter()
        for q in self.queries:
            self.expect.get(q)
        self.check_s += time.perf_counter() - t

    def _op(self, q: str) -> Op:
        return Op(q, int(self.expect.get(q).get("input_bytes", 0)), q)

    #: After one warm-up call these were still 10–40% slower in the first
    #: timed pass than in later ones, so warm-up calls them twice. The
    #: other two took as long on their second call as on later ones.
    warm_twice = (
        "q1_pricing_summary",
        "q9_profit_by_nation_year",
        "window_top_orders_per_customer",
        "minhash_near_dups_documents",
        "cosine_topk_embeddings",
    )

    def warmup(self) -> None:
        """One untimed pass in registry order, so each query family pays
        its first-use costs (code generation, Python workers), then a
        second call of each of ``warm_twice``."""
        for q in self.queries + tuple(q for q in self.queries if q in self.warm_twice):
            self.run_checked(self._op(q))

    def pass_ops(self) -> list[Op]:
        return [self._op(q) for q in self.rng.sample(self.queries, len(self.queries))]

    def run(self, op: Op):
        self._tmp_before = set(os.listdir(self.tmp)) if self.tmp else set()
        df = self.registry[op.arg](self.spark, SF_DIR)
        return df.columns, [tuple(r) for r in df.collect()]

    def check(self, op: Op, result) -> list[str]:
        try:
            columns, rows = result
            return [f"{op.name}: {p}" for p in self.expect.check(op.arg, rows, columns)]
        finally:
            self._cleanup()

    def _cleanup(self) -> None:
        """Ops are independent: drop caches, tables and temp dirs they left."""
        self.spark.catalog.clearCache()
        for t in self.spark.catalog.listTables():
            if t.tableType != "TEMPORARY":
                self.spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
        if self.tmp:
            for entry in set(os.listdir(self.tmp)) - self._tmp_before:
                path = os.path.join(self.tmp, entry)
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.remove(path)

    def run_traced(self, op: Op, tracer):
        self._tmp_before = set(os.listdir(self.tmp)) if self.tmp else set()
        with tracer.span("queries") as s:
            df = self.registry[op.arg](self.spark, SF_DIR)
        figures = {"queries.build_s": s.seconds}
        with tracer.span("catalyst") as s:
            df._jdf.queryExecution().executedPlan()
        figures["catalyst.plan_s"] = s.seconds
        with tracer.span("exec") as s:
            rows = [tuple(r) for r in df.collect()]
        figures["exec.collect_s"] = s.seconds
        return (df.columns, rows), figures

    def layer_figures(self, tracer, counters) -> dict[str, float]:
        """Run each of ``layer_queries`` once, traced and checked; only
        their spans are kept."""
        for q in self.layer_queries:
            op = self._op(q)
            result, _ = self.run_traced(op, tracer)
            problems = self.check(op, result)
            if problems:
                raise RuntimeError(f"untimed op {op.name} failed its check: {problems}")
        return {}


WORKLOADS = {w.name: w for w in (ListingsBatch, RegistryQueries)}
