"""The benchmark's closed-loop workloads and the runner that times them.

Each workload is driven by one client thread that waits for every result
before it sends the next operation. The runner

1. generates the workload's inputs from the seed (not timed);
2. sets up once, cold: starts the JVM and the Spark session and runs one
   warm-up operation (``setup_s``), then a fixed number of untimed
   operations, because a fresh JVM keeps speeding up over its first ones
   as the JIT compiles the hot paths;
3. runs operations until they have taken ``seconds`` and number at least
   the workload's ``MIN_OPS``, all traced or all untraced; a traced run
   then runs the workload's traced extras;
4. checks the outputs against the DuckDB twins, outside the timed window.

Workloads:

- ``build_textdir``: the paper's pipeline, ``cli.main([dir, out, "--force"])``
  on a directory of 1000 text files (2 MB). One operation is one build.
  The traced extras are noop-sink runs of growing prefixes of the chain.
- ``index_serve``: one operation is one warm ``tfidf_search_promoted``,
  which reads the promoted index from the model store and scans no
  documents. The store starts empty, so the warm-up operation in the
  set-up is the cold promote that writes it. The traced extras are one
  more cold promote (its model-store entry cleared first) and drains of
  ``stream_tfidf_index_merge`` (four micro-batches with versioned commits
  and a compaction), the only calls into ``streaming``. A cold promote
  costs 11-18 s, too long to repeat within a run, and a drain's CPU time
  varies by a fifth between runs as each drain compiles new code, so
  neither is a timed operation.

End-to-end metrics (``--trace 0``) are the costs a user pays in CPU and
memory: ``setup_s`` (CPU seconds of the cold set-up, JVM start plus the
warm-up operation), ``op_cpu_s`` (CPU seconds of one operation, median over
the run's operations), both counted over this Python process and the JVM's
process tree, and ``peak_rss_mb`` (VmHWM of this Python process plus the
JVM, read before the output checks so the checks' own memory is not
counted). Wall times are not end-to-end metrics: on a VM that shares its
host, a busy neighbour stretches an operation or a set-up by 30-70 % for
minutes at a time, which no number of operations within one run averages
out, while the kernel leaves the time the hypervisor steals out of CPU
time. The traced run reports the wall times as ``op.wall_ms``,
``session.get_spark_s`` and ``session.warmup_s``.

Per-layer metrics (``--trace 1``), with the end-to-end metric each should
move (per operation, median over the traced operations):

- into ``op_cpu_s`` on ``build_textdir``:
  ``sources.read_text_corpus_ms``, ``sources.scan_tasks``,
  ``sources.input_bytes``, ``sources.scan_amplification`` (input bytes read
  over input bytes on disk), ``sources.output_bytes``, ``functions.tokens``,
  ``functions.tokenize_exec_s`` (executor time of the scan+tokenize prefix
  minus the scan-only prefix), ``operators.shuffle_write_bytes``,
  ``operators.shuffle_read_bytes``, ``operators.executor_run_ms``, and
  ``operators.spill_bytes`` / ``operators.gc_ms`` (also ``peak_rss_mb``);
- into ``op_cpu_s`` on both (the Spark driver's share): ``operators.build_ms``
  (plan construction), ``operators.catalyst_ms``, ``operators.jobs``,
  ``operators.stages``, ``operators.tasks``, ``operators.sched_gap_ms``
  (wall time covered neither by plan construction nor by a Spark job),
  ``sources.load_table_ms`` and each layer's ``<layer>.self_ms``;
- into ``op_cpu_s`` on ``index_serve``: ``operators.serve_ms`` and
  ``sources.serve_store_files_written``, which must stay zero;
- into ``setup_s`` on ``index_serve`` (the cold promote is its warm-up):
  the traced cold promote's ``operators.promote_ms``,
  ``operators.promote_jobs``, ``sources.model_store_files_written`` and
  ``sources.model_store_bytes_written``;
- of the traced drains on ``index_serve`` (no end-to-end metric):
  ``streaming.drain_ms``, ``streaming.batches``, ``streaming.add_batch_ms``,
  ``streaming.wal_commit_ms``, ``streaming.commit_offsets_ms``,
  ``streaming.latest_offset_ms``, ``streaming.query_planning_ms``,
  ``sources.index_root_files``;
- into ``setup_s``: ``session.get_spark_s``, ``session.warmup_s``;
- into ``failed`` (the result's failure count): ``operators.failed_tasks``;
- the operation's wall time, ``op.wall_ms``;
- the tracing itself: ``trace.spans`` and ``trace.overhead_ms`` (the
  operation's spans times the measured cost of one traced call; timing a
  traced against an untraced operation cannot resolve it, since whole
  operations vary by far more than the spans cost).
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable

from . import checks, corpus, trace

PROMOTED = "tfidf_search_promoted"
DRAIN = "stream_tfidf_index_merge"


@dataclass
class Step:
    """One timed call. ``prepare`` runs untimed just before it."""

    kind: str
    fn: Callable[[], object]
    prepare: Callable[[], None] | None = None
    #: the step runs a streaming query, so its batch progress is awaited
    stream: bool = False


@dataclass
class StepRecord:
    kind: str
    seconds: float
    ok: bool
    error: str = ""
    #: CPU seconds this process and the JVM's process tree spent in the step
    cpu_s: float = 0.0
    layer: dict = field(default_factory=dict)


def noop(df):
    """Run ``df`` to Spark's noop sink; returns ``df``."""
    df.write.format("noop").mode("overwrite").save()
    return df


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    """Inputs, the timed operation, traced extras and the output checks."""

    name = ""
    #: untimed operations after the warm-up, before timing
    SETTLE_OPS = 0
    #: timed operations a run makes however fast they are, so every run
    #: times the same span of the JVM's warming curve
    MIN_OPS = 1
    #: bytes on disk of the workload's input; set by make_inputs
    input_bytes = 0
    #: words the tokenizer emits over the corpus; set by final_checks
    tokens = 0

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.runner: Runner | None = None
        self.attempted_checks = 0
        self.failed_checks = 0
        self.problems: list[str] = []

    def make_inputs(self) -> dict:
        raise NotImplementedError

    def op(self, spark) -> Step:
        """The next timed operation."""
        raise NotImplementedError

    def traced_extras(self, spark) -> dict[str, StepRecord]:
        """Untimed steps a traced run adds after its timed operations, for
        layer metrics the operation does not reach (default: none)."""
        return {}

    def after_step(self, kind: str, out) -> None:
        """Untimed check of one step's output (default: none)."""

    def final_checks(self, spark) -> None:
        """Untimed checks after the timed window (default: none)."""

    def check(self, label: str, problems: list[str]) -> None:
        """Count one output check; any problem fails it."""
        self.attempted_checks += 1
        self.failed_checks += bool(problems)
        self.problems += [f"{label}: {p}" for p in problems]


class BuildTextDir(Workload):
    name = "build_textdir"
    DOCS, VOCAB, MEAN_TOKENS = 1000, 20000, 300
    SETTLE_OPS, MIN_OPS = 2, 4

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self.outputs: list[str] = []

    def make_inputs(self) -> dict:
        c = corpus.generate(self.seed, self.DOCS, self.VOCAB, self.MEAN_TOKENS)
        self.text_dir = os.path.join(self.work, "corpus")
        corpus.write_text_dir(c, self.text_dir)
        self.input_bytes = dir_bytes(self.text_dir)
        import pandas as pd

        self.documents = pd.DataFrame(
            {
                "doc_id": [f"{d}.txt" for d, _ in c.docs],
                "text": [t + "\n" for _, t in c.docs],
            }
        )
        return c.sizes()

    def _build(self, src: str, out: str) -> str:
        from tf_idf_mapreduce_spark import cli

        rc = cli.main([src, out, "--force"])
        if rc != 0:
            raise RuntimeError(f"cli.main returned {rc}")
        return out

    def op(self, spark):
        # each build keeps its own output, checked after the timed window
        out = os.path.join(self.work, "out", str(len(self.outputs)))
        return Step("build", lambda: self._build(self.text_dir, out))

    def after_step(self, kind, out) -> None:
        if kind == "build":
            self.outputs.append(out)

    def final_checks(self, spark) -> None:
        want = checks.oracle(checks.connect(documents=self.documents), "tfidf_full")
        self.tokens = int(want["count"].sum())
        for out in self.outputs:
            got = checks.read_sorted_output(os.path.join(out, "SortedTFIDF"))
            self.check("build", checks.check_sorted_scores(got, want))
            shutil.rmtree(out)

    def traced_extras(self, spark) -> dict:
        """Noop-sink runs of growing prefixes of the build's chain: the
        scan alone, then with tokenize, then with word_count, then the
        full chain."""
        from pyspark.sql import functions as F
        from tf_idf_mapreduce_spark.functions.tokenize import tokenize
        from tf_idf_mapreduce_spark.operators.tfidf import (
            doc_freq,
            doc_totals,
            tfidf,
            tfidf_sorted,
            word_count,
        )
        from tf_idf_mapreduce_spark.sources.io import read_text_corpus

        n_docs = len(os.listdir(self.text_dir))
        prefixes = {
            "read": lambda: read_text_corpus(spark, self.text_dir),
            "tokenize": lambda: tokenize(read_text_corpus(spark, self.text_dir)),
            "word_count": lambda: word_count(
                tokenize(read_text_corpus(spark, self.text_dir))
            ),
            "full": lambda: tfidf_sorted(
                tfidf(
                    doc_freq(doc_totals(word_count(tokenize(read_text_corpus(spark, self.text_dir))))),
                    F.lit(n_docs),
                )
            ),
        }
        return {
            name: self.runner.run_step(Step(f"prefix_{name}", lambda b=build: noop(b())), spark)
            for name, build in prefixes.items()
        }


class IndexServe(Workload):
    """Registry queries (``__spark_entry__.queries()``) over a generated
    ``documents`` table."""

    name = "index_serve"
    DOCS, VOCAB, MEAN_TOKENS = 500, 2000, 60
    SETTLE_OPS, MIN_OPS = 2, 6
    #: streaming drains a traced run adds; the first one in a JVM is cold
    TRACED_DRAINS = 2

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self.last: dict = {}

    def make_inputs(self) -> dict:
        c = corpus.generate(self.seed, self.DOCS, self.VOCAB, self.MEAN_TOKENS)
        self.sf_dir = os.path.join(self.work, "sf")
        corpus.write_documents_table(c, self.sf_dir)
        self.input_bytes = dir_bytes(self.sf_dir)
        return c.sizes()

    def run_query(self, spark, name: str):
        """One registry query to the noop sink; the registry call itself,
        i.e. plan construction, is the ``operators.build`` span."""
        import __spark_entry__

        fn = __spark_entry__.queries()[name]
        with self.runner.span("operators.build"):
            df = fn(spark, self.sf_dir)
        return noop(df)

    def _clear_promoted(self) -> None:
        from tf_idf_mapreduce_spark.operators.caches import MODEL_CACHED_QUERIES

        MODEL_CACHED_QUERIES[PROMOTED]()

    def op(self, spark):
        # the model store starts empty, so the warm-up operation is the
        # cold promote and every later one a warm serve
        return Step("serve", lambda: self.run_query(spark, PROMOTED))

    def traced_extras(self, spark) -> dict:
        steps = {"promote": Step("promote", lambda: self.run_query(spark, PROMOTED), self._clear_promoted)}
        for i in range(self.TRACED_DRAINS):
            steps[f"drain{i + 1}"] = Step("drain", lambda: self.run_query(spark, DRAIN), stream=True)
        return {name: self.runner.run_step(step, spark) for name, step in steps.items()}

    def after_step(self, kind, out) -> None:
        # the newest result of each query: a traced promote clears the
        # store an earlier serve's plan reads
        self.last[DRAIN if kind == "drain" else PROMOTED] = out

    def final_checks(self, spark) -> None:
        con = checks.connect(sf_dir=self.sf_dir)
        full = checks.oracle(con, "tfidf_full")
        self.tokens = int(full["count"].sum())
        if PROMOTED not in self.last:
            self.check(PROMOTED, ["no serve succeeded, nothing to check"])
        else:
            want = checks.oracle(con, "tfidf_search")
            self.check(PROMOTED, checks.compare(self.last[PROMOTED].toPandas(), want))
        # only a traced run drains; a failed drain is counted as a failed step
        if DRAIN in self.last:
            self.check(DRAIN, checks.compare(self.last[DRAIN].toPandas(), full))


WORKLOADS = {w.name: w for w in (BuildTextDir, IndexServe)}


# --------------------------------------------------------------------------
# runner
# --------------------------------------------------------------------------


def peak_rss_mb() -> dict[str, float]:
    """VmHWM of this Python process and of the JVM it launched."""
    from pyspark import SparkContext

    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    return {"python": hwm("self"), "jvm": hwm(SparkContext._gateway.proc.pid)}


def cpu_seconds() -> float:
    """CPU seconds (user + system) spent so far by this process and by the
    JVM it launched, with the JVM's child processes. The kernel leaves out
    time the hypervisor stole from the VM, so a busy host moves this far
    less than it moves wall time."""
    from pyspark import SparkContext

    tick = os.sysconf("SC_CLK_TCK")
    pids, parent = {SparkContext._gateway.proc.pid}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(d)] = (int(fields[1]), sum(map(int, fields[11:15])))
    while kids := {p for p, (pp, _) in parent.items() if pp in pids} - pids:
        pids |= kids
    own = os.times()
    return own.user + own.system + sum(parent[p][1] for p in pids if p in parent) / tick


def start_spark(work: str):
    """A session from a fresh JVM. The engine's own memory settings are
    left alone, so ``peak_rss_mb`` follows the heap the run touches."""
    from tf_idf_mapreduce_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the active SparkContext, if any, and wait for the JVM (and the
    Python workers it forked) to end."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    """Runs and, when tracing, traces one workload's steps."""

    def __init__(self, wl: Workload):
        self.wl = wl
        wl.runner = self
        self.tracer: trace.Tracer | None = None
        self.counters: trace.SparkCounters | None = None
        self.progress: trace.StreamProgress | None = None
        self._n = 0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def run_step(self, step: Step, spark) -> StepRecord:
        if step.prepare:
            step.prepare()
        self._n += 1
        group = f"perfbench-{self._n}"
        traced = self.tracer is not None
        if traced:
            spark.sparkContext.setJobGroup(group, step.kind)
            mark = self.progress.mark()
            store_root = os.environ["SPARK_GRAFT_MODEL_DIR"]
            tmp = os.path.join(self.wl.work, "tmp")
            store0 = trace.tree_snapshot(store_root)
            index0 = trace.tree_snapshot(tmp, "stream_tfidf_index_")
        out, err = None, ""
        cpu0 = cpu_seconds()
        wall0 = time.time()
        t0 = time.perf_counter()
        with self.span(f"op.{step.kind}") as sid:
            try:
                out = step.fn()
            except Exception as e:  # a failed operation is counted, not fatal
                err = f"{type(e).__name__}: {e}"
        secs = time.perf_counter() - t0
        wall1 = time.time()
        rec = StepRecord(step.kind, secs, not err, err[:500], cpu_seconds() - cpu0)
        if traced:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            rec.layer = self._layer_record(
                sid, group, wall0, wall1, secs, mark, out, step.stream
            )
            rec.layer["store_files"], rec.layer["store_bytes"] = trace.tree_delta(
                store0, trace.tree_snapshot(store_root)
            )
            rec.layer["index_root_files"], _ = trace.tree_delta(
                index0, trace.tree_snapshot(tmp, "stream_tfidf_index_")
            )
        if not err:
            self.wl.after_step(step.kind, out)
        return rec

    def _layer_record(self, sid, group, wall0, wall1, secs, mark, out, stream) -> dict:
        """Counters of one traced step: Spark's, the spans', the stream's."""
        c = self.counters.collect(group, wall0, wall1)
        layers = self.tracer.layer_times(sid)
        rec = {k: v for k, v in c.items() if k != "job_intervals"}
        rec["layers"] = layers
        op = self.tracer.spans[sid]
        below = trace.descendants(self.tracer.spans, sid)
        plan = [(s.start, s.end) for s in below if s.name == "operators.build"]
        if not plan:  # the CLI has no registry call: its operator calls are the plan
            plan = [(s.start, s.end) for s in below if s.name.startswith("operators.")]
        # job times are epoch seconds; move them onto the spans' clock
        shift = op.start - wall0
        jobs = [(a + shift, b + shift) for a, b in c["job_intervals"]]
        rec["build_ms"] = trace.covered(plan, op.start, op.end) * 1000
        rec["sched_gap_ms"] = (secs - trace.covered(plan + jobs, op.start, op.end)) * 1000
        rec["catalyst_ms"] = catalyst_ms(out)
        rec["batches"] = self.progress.since(mark) if stream else []
        rec["spans"] = len(trace.descendants(self.tracer.spans, sid))
        return rec

    def timed_ops(self, spark, seconds: float) -> list[StepRecord]:
        """Operations until they have taken ``seconds``, and at least
        ``MIN_OPS`` of them."""
        done: list[StepRecord] = []
        while len(done) < self.wl.MIN_OPS or sum(r.seconds for r in done) < seconds:
            done.append(self.run_step(self.wl.op(spark), spark))
        return done

    def start_tracing(self, spark) -> dict:
        self.tracer = trace.Tracer(run_id=f"{self.wl.name}-{self.wl.seed}")
        self.counters = trace.SparkCounters(spark)
        self.progress = trace.StreamProgress()
        spark.streams.addListener(self.progress.listener)
        return trace.instrument(self.tracer)


def catalyst_ms(df) -> float:
    """Analysis + optimisation + planning time of ``df``'s plan, from its
    QueryExecution's phase tracker (0 when the step returned no plan)."""
    from pyspark.sql import DataFrame

    if not isinstance(df, DataFrame):
        return 0.0
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    jvm = df.sparkSession._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
    return float(sum(phases[k].durationMs() for k in phases.keySet()))


def e2e_metrics(ops: list[StepRecord], setup_cpu_s: float, rss) -> dict:
    return {
        "setup_s": (setup_cpu_s, "s"),
        "op_cpu_s": (statistics.median(r.cpu_s for r in ops), "s"),
        "peak_rss_mb": (sum(rss.values()), "MB"),
    }


def _med(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def layer_metrics(wl: Workload, ops: list[StepRecord], setup, extras, call_cost_s: float) -> dict:
    """Per-layer metrics of a traced run: the median of each counter over
    the timed operations; step-kind metrics are the median over the timed
    and extra steps of that kind."""
    steps = ops + list(extras.values())

    def per_op(fn) -> float:
        return _med([fn(r.layer) for r in ops])

    def per_kind(kind, fn) -> float:
        return _med([fn(r.layer) for r in steps if r.kind == kind])

    def layer(name, key="self"):
        return lambda L: L["layers"].get(name, {}).get(key, 0.0) * 1000

    def batch_sum(key):
        return lambda L: float(sum(b.get(key, 0) for b in L["batches"]))

    input_bytes = per_op(lambda L: L["input_bytes"])
    prefix_layer = {name: rec.layer for name, rec in extras.items()}
    tokenize_exec_s = 0.0
    if "tokenize" in prefix_layer:
        tokenize_exec_s = (
            prefix_layer["tokenize"].get("executor_run_ms", 0)
            - prefix_layer["read"].get("executor_run_ms", 0)
        ) / 1000
    m = {
        "session.get_spark_s": (setup[0], "s"),
        "session.warmup_s": (setup[1], "s"),
        "session.self_ms": (per_op(layer("session")), "ms"),
        "sources.self_ms": (per_op(layer("sources")), "ms"),
        "sources.read_text_corpus_ms": (per_op(layer("sources", "read_text_corpus")), "ms"),
        "sources.load_table_ms": (per_op(layer("sources", "load_table")), "ms"),
        "sources.scan_tasks": (per_op(lambda L: L["scan_tasks"]), "count"),
        "sources.input_bytes": (input_bytes, "bytes"),
        "sources.scan_amplification": (input_bytes / wl.input_bytes, "ratio"),
        "sources.output_bytes": (per_op(lambda L: L["output_bytes"]), "bytes"),
        "sources.index_root_files": (per_kind("drain", lambda L: L["index_root_files"]), "count"),
        "sources.model_store_files_written": (per_kind("promote", lambda L: L["store_files"]), "count"),
        "sources.model_store_bytes_written": (per_kind("promote", lambda L: L["store_bytes"]), "bytes"),
        "sources.serve_store_files_written": (per_kind("serve", lambda L: L["store_files"]), "count"),
        "functions.self_ms": (per_op(layer("functions")), "ms"),
        "functions.tokens": (wl.tokens, "count"),
        "functions.tokenize_exec_s": (tokenize_exec_s, "s"),
        "operators.self_ms": (per_op(layer("operators")), "ms"),
        "operators.build_ms": (per_op(lambda L: L["build_ms"]), "ms"),
        # the CLI hands no plan back, so a build's Catalyst time is read
        # from the identical chain of the "full" prefix run
        "operators.catalyst_ms": (
            per_op(lambda L: L["catalyst_ms"])
            or prefix_layer.get("full", {}).get("catalyst_ms", 0.0),
            "ms",
        ),
        "operators.jobs": (per_op(lambda L: L["jobs"]), "count"),
        "operators.stages": (per_op(lambda L: L["stages"]), "count"),
        "operators.tasks": (per_op(lambda L: L["tasks"]), "count"),
        "operators.failed_tasks": (per_op(lambda L: L["failed_tasks"]), "count"),
        "operators.sched_gap_ms": (per_op(lambda L: L["sched_gap_ms"]), "ms"),
        "operators.executor_run_ms": (per_op(lambda L: L["executor_run_ms"]), "ms"),
        "operators.shuffle_write_bytes": (per_op(lambda L: L["shuffle_write_bytes"]), "bytes"),
        "operators.shuffle_read_bytes": (per_op(lambda L: L["shuffle_read_bytes"]), "bytes"),
        "operators.spill_bytes": (
            per_op(lambda L: L["memory_spill_bytes"] + L["disk_spill_bytes"]),
            "bytes",
        ),
        "operators.gc_ms": (per_op(lambda L: L["gc_ms"]), "ms"),
        "operators.promote_jobs": (per_kind("promote", lambda L: L["jobs"]), "count"),
        "operators.promote_ms": (
            _med([r.seconds * 1000 for r in steps if r.kind == "promote"]),
            "ms",
        ),
        "operators.serve_ms": (
            _med([r.seconds * 1000 for r in steps if r.kind == "serve"]),
            "ms",
        ),
        "streaming.self_ms": (per_kind("drain", layer("streaming")), "ms"),
        "streaming.drain_ms": (
            _med([r.seconds * 1000 for r in steps if r.kind == "drain"]),
            "ms",
        ),
        "streaming.batches": (per_kind("drain", lambda L: len(L["batches"])), "count"),
        "streaming.add_batch_ms": (per_kind("drain", batch_sum("addBatch")), "ms"),
        "streaming.wal_commit_ms": (per_kind("drain", batch_sum("walCommit")), "ms"),
        "streaming.commit_offsets_ms": (per_kind("drain", batch_sum("commitOffsets")), "ms"),
        "streaming.latest_offset_ms": (per_kind("drain", batch_sum("latestOffset")), "ms"),
        "streaming.query_planning_ms": (per_kind("drain", batch_sum("queryPlanning")), "ms"),
        "cli.self_ms": (per_op(layer("cli")), "ms"),
        "op.wall_ms": (_med([r.seconds * 1000 for r in ops]), "ms"),
        "trace.spans": (per_op(lambda L: L["spans"]), "count"),
        # the operation's own span plus the spans under it, each at the
        # measured cost of one traced call
        "trace.overhead_ms": (
            per_op(lambda L: (L["spans"] + 1) * call_cost_s * 1000), "ms"
        ),
    }
    return m


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    metrics: dict
    record: dict


def run(name: str, seed: int, seconds: float, trace_on: bool, work: str) -> Result:
    """One benchmark run; the JVM is stopped however the run ends."""
    try:
        return _run(WORKLOADS[name](seed, work), seconds, trace_on)
    finally:
        stop_spark()


def _run(wl: Workload, seconds: float, trace_on: bool) -> Result:
    import bench

    # wall seconds at the end of each phase of the run, for sizing runs
    phases, start = {}, time.perf_counter()

    def phase(name: str) -> None:
        phases[name] = round(time.perf_counter() - start, 2)

    calibration = bench.host_calibration_sec()
    phase("calibration")
    sizes = wl.make_inputs()
    phase("inputs")
    runner = Runner(wl)
    # one cold set-up: the JVM starts here, so its start and the first
    # (JIT-cold) operation are both in setup_s
    own = os.times()
    t0 = time.perf_counter()
    spark = start_spark(wl.work)
    t1 = time.perf_counter()
    wl.op(spark).fn()
    setup = (t1 - t0, time.perf_counter() - t1)
    setup_cpu_s = cpu_seconds() - own.user - own.system
    phase("setup")
    for _ in range(wl.SETTLE_OPS):
        wl.op(spark).fn()
    phase("settle")
    extras = {}
    undo = runner.start_tracing(spark) if trace_on else {}
    try:
        ops = runner.timed_ops(spark, seconds)
        phase("timed")
        if trace_on:
            extras = wl.traced_extras(spark)
    finally:
        trace.uninstrument(undo)
    phase("extras")
    rss = peak_rss_mb()
    wl.final_checks(spark)
    phase("checks")
    sc = spark.sparkContext
    meta = {
        "workload": wl.name,
        "seed": wl.seed,
        "seconds": seconds,
        "trace": trace_on,
        "calibration_sec": calibration,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "nproc": len(os.sched_getaffinity(0)),
        "inputs": {**sizes, "input_bytes_on_disk": wl.input_bytes, "words": wl.tokens},
    }
    stop_spark()

    steps = ops + list(extras.values())
    failed_steps = [r for r in steps if not r.ok]
    attempted = len(steps) + wl.attempted_checks
    failed = len(failed_steps) + wl.failed_checks
    if trace_on:
        metrics = layer_metrics(wl, ops, setup, extras, trace.call_cost_s())
    else:
        metrics = e2e_metrics(ops, setup_cpu_s, rss)
    record = {
        **meta,
        "setup": setup,
        "setup_cpu_s": setup_cpu_s,
        "settle_ops": wl.SETTLE_OPS,
        "phases_s": phases,
        "ops": len(ops),
        "steps": [(r.kind, r.seconds, r.cpu_s, r.ok) for r in steps],
        "errors": [r.error for r in failed_steps],
        "check_problems": wl.problems,
        "failed_frac": failed / attempted,
        "peak_rss_mb": rss,
        "traced_extras": {name: rec.layer for name, rec in extras.items()},
        "metrics": metrics,
    }
    if runner.tracer is not None:
        record["spans"] = [dataclasses.asdict(s) for s in runner.tracer.spans]
    return Result(not failed, attempted, failed, metrics, record)
