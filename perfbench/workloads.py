"""The benchmark's workloads and the metrics they report.

Every workload runs in the same frame (``Bench.run``): start a Spark
session, build the seeded input several times (the median counts toward
set-up), repeat timed passes for the requested seconds, then check
correctness outside the timed window. There is no warm-up: each process
is a cold JVM and a pass is what a batch job meets, code generation and
Python worker start-up included (a warm-up pass would add ~25 s to a run,
more than the benchmark's time budget can carry). A traced run also records
spans around the public kgpipe calls, enables Spark's event log and
folds it into per-layer numbers.

Workloads (README.md says why each was chosen):

* ``wh-incremental``: the resumable runner into a fresh warehouse, its
  resume on the finished run, and ``finalize`` with forced triples;
* ``ops-suite``: the twelve headline operators of bench.py over seeded
  star-schema tables.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

import eventlog
import hostinfo
import spans
from bench import HEADLINE as HEADLINE_OPS
from gates import duckdb_over, fingerprint, normalize_rows, oracle_rows, triples_fingerprint

#: end-to-end metrics (name, unit), reported by every workload
END_TO_END = [
    ("setup_s", "s"),
    ("pass_s", "s"),
]

MAT_OPS = ("insert_ignore", "merge_best", "append")
SPAN_STATS = ("task_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "task_skew")
STAT_UNITS = {"task_s": "s", "gc_s": "s", "task_skew": "ratio"}


def _stat_names(prefix: str) -> list[tuple[str, str]]:
    return [(f"{prefix}.{s}", STAT_UNITS.get(s, "bytes")) for s in SPAN_STATS]


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric, in report order, with its unit. A layer a
    workload does not run reports 0."""
    out = [
        ("session.start_s", "s"), ("corpus.load_s", "s"), ("driver_peak_rss_mb", "MB"),
        ("trace.pass_s", "s"), ("trace.jobs", "count"),
        ("fail_ratio", "ratio"),
        ("parse.chengyu.us_per_page", "us"), ("parse.cidian.us_per_page", "us"),
        ("parse.zidian.us_per_page", "us"), ("parse.flat_accept_ratio", "ratio"),
        ("parse.chromed.chengyu.us_per_page", "us"), ("parse.chromed.cidian.us_per_page", "us"),
        ("parse.chromed.zidian.us_per_page", "us"), ("parse.chromed.flat_accept_ratio", "ratio"),
        ("pipeline.build_graph_s", "s"), ("pipeline.driver_plan_s", "s"),
        ("pipeline.jobs", "count"), ("pipeline.triples_job_s", "s"),
        ("canon.canonical_mapping_s", "s"), ("canon.canonicalize_edges_s", "s"),
    ]
    for prefix in ("pipeline.triples", "pipeline.barrier", "canon.canonical_mapping"):
        out += _stat_names(prefix)
    for op in MAT_OPS:
        out += [(f"materialize.{op}_s", "s"), (f"materialize.{op}.median_s", "s"),
                (f"materialize.{op}.calls", "count")]
        out += _stat_names(f"materialize.{op}")
    out += [("materialize.files_written", "count"), ("materialize.bytes_written", "bytes")]
    out += [
        ("checkpoint.prelude_s", "s"), ("checkpoint.pending_units_s", "s"),
        ("checkpoint.unit_self_s", "s"), ("checkpoint.jobs_per_unit", "count"),
        ("checkpoint.ingest.build_graph_s", "s"), ("checkpoint.ingest.materialize_s", "s"),
        ("checkpoint.ingest.self_s", "s"),
    ]
    out += _stat_names("checkpoint.runner")
    out += [
        ("ingest_pages_per_s", "pages/s"), ("commit_interval_s", "s"),
        ("resume_s", "s"), ("finalize_s", "s"), ("wh_bytes_per_triple", "B/triple"),
        ("ops_suite_s", "s"),
    ]
    out += [(f"ops.{op}_s", "s") for op in HEADLINE_OPS]
    out += [(f"ops.{op}.shuffle_bytes", "bytes") for op in HEADLINE_OPS]
    out += [("ops.dedup_minhash_lsh.task_skew", "ratio")]
    return out


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class OpsSuite:
    """bench.py's twelve headline operators over seeded star-schema
    tables; one pass runs every operator once, forced to a one-row
    fingerprint as bench.py forces it, so no result rows are moved to
    the driver inside the timed window."""

    name = "ops-suite"
    min_passes = 1

    def __init__(self, bench: "Bench", table_rows: int):
        self.bench = bench
        self.table_rows = table_rows
        self.loads = 0
        self.op_s: dict[str, list[float]] = {op: [] for op in HEADLINE_OPS}
        self.fps: dict[str, list] = {op: [] for op in HEADLINE_OPS}
        self.result_rows: dict[str, int] = {}

    def load(self) -> None:
        from opsdata import generate_tables, write_tables

        tables = generate_tables(self.bench.seed, self.table_rows)
        self.rows = {name: t.num_rows for name, t in tables.items()}
        self.dir = os.path.join(self.bench.run_dir, f"tables-{self.loads}")
        self.loads += 1
        self.table_bytes = write_tables(tables, self.dir)

    def one_pass(self) -> None:
        from kgpipe.queries import QUERIES

        for op in HEADLINE_OPS:
            with self.bench.span(f"ops.{op}"):
                t0 = time.perf_counter()
                fp = fingerprint(QUERIES[op](self.bench.spark, self.dir))
                self.op_s[op].append(time.perf_counter() - t0)
            self.fps[op].append(fp)

    def check(self) -> tuple[int, int]:
        """Per operator, after the timed window: run it once more and
        collect; its rows must equal its DuckDB oracle's rows over the
        same parquet files, and their number the row count of every
        timed pass's fingerprint."""
        from kgpipe.queries import ORACLES, QUERIES

        attempted = bad = 0
        con = duckdb_over(self.dir, self.rows)
        try:
            for op in HEADLINE_OPS:
                df = QUERIES[op](self.bench.spark, self.dir)
                rows = df.collect()
                self.result_rows[op] = len(rows)
                got = normalize_rows(rows)
                want = oracle_rows(con, ORACLES[op], df.columns)
                attempted += 1
                if got != want:
                    bad += 1
                    self.bench.note(f"{op}: {len(got)} rows differ from the DuckDB "
                                    f"oracle ({len(want)} rows)")
                for n, _hash in self.fps[op]:
                    attempted += 1
                    if n != len(rows):
                        bad += 1
                        self.bench.note(f"{op}: a timed pass counted {n} rows, the "
                                        f"checked run {len(rows)}")
        finally:
            con.close()
        return attempted, bad

    def sizes(self) -> dict:
        """Input rows and bytes, each operator's result rows, and the LSH
        candidate pairs (the result of ``dedup_minhash_lsh``), the figure
        that sets that operator's join cost."""
        return {"table_rows": self.rows, "table_bytes": self.table_bytes,
                "result_rows": self.result_rows,
                "lsh_pairs": self.result_rows.get("dedup_minhash_lsh")}

    def probe_corpora(self) -> dict:
        return {}

    def release(self) -> None:
        pass

    def layers(self, m: dict, ctx: "TraceContext") -> None:
        for op in HEADLINE_OPS:
            m[f"ops.{op}_s"] = median(self.op_s[op])
            st = ctx.stats(ctx.named(f"ops.{op}"))
            m[f"ops.{op}.shuffle_bytes"] = st.shuffle_write_bytes
            if op == "dedup_minhash_lsh":
                m[f"ops.{op}.task_skew"] = st.task_skew
        m["ops_suite_s"] = sum(m[f"ops.{op}_s"] for op in HEADLINE_OPS)


class WarehouseIncremental:
    """One pass is one cycle: ``run_incremental`` into a fresh
    warehouse, ``run_incremental`` again on the finished run (nothing
    pending), then ``finalize`` with its triples forced."""

    name = "wh-incremental"
    min_passes = 1
    SWEEP = (0x4E00, 0x9FFF)
    DATA_TABLES = ("nodes", "edges", "checkpoints", "errors")
    ALL_TABLES = DATA_TABLES + ("run_metrics",)

    def __init__(self, bench: "Bench", n_hanzi: int, n_words: int, n_idioms: int,
                 n_buckets: int):
        self.bench = bench
        self.shape = dict(n_hanzi=n_hanzi, n_words=n_words, n_idioms=n_idioms)
        self.n_buckets = n_buckets
        self.cycles: list[dict] = []
        self.cdf = self.sdf = None

    def load(self) -> None:
        """Generate the seeded corpus and cache it in Spark as input."""
        from kgpipe.corpus import corpus_to_dataframes, generate_corpus

        self.release()
        self.corpus = generate_corpus(seed=self.bench.seed, **self.shape)
        cdf, sdf = corpus_to_dataframes(self.bench.spark, self.corpus)
        self.cdf = cdf.repartition(self.bench.cpus * 2).persist()
        self.sdf = sdf.persist()
        self.cdf.count()
        self.sdf.count()

    def release(self) -> None:
        if self.cdf is not None:
            self.cdf.unpersist(True)
            self.sdf.unpersist(True)
            self.cdf = self.sdf = None

    def one_pass(self) -> None:
        from kgpipe.checkpoint import finalize, run_incremental

        b = self.bench
        root = os.path.join(b.run_dir, f"warehouse-{len(self.cycles)}")
        shutil.rmtree(root, ignore_errors=True)
        kw = dict(run_id="bench", n_buckets=self.n_buckets, sweep_range=self.SWEEP)
        t0 = time.time()
        with b.span("checkpoint.run_incremental"):
            wh = run_incremental(b.spark, self.cdf, self.sdf, root, **kw)
        t1 = time.time()
        before = {t: getattr(wh, t).current_version() for t in self.DATA_TABLES}
        with b.span("checkpoint.resume"):
            run_incremental(b.spark, self.cdf, self.sdf, root, **kw)
        t2 = time.time()
        after = {t: getattr(wh, t).current_version() for t in self.DATA_TABLES}
        with b.span("checkpoint.finalize"):
            _edges, triples = finalize(wh, b.spark)
            with b.span("pipeline.triples"):
                fp = fingerprint(triples)
        t3 = time.time()
        self.cycles.append(dict(
            root=root, wh=wh, start=t0, ingest_s=t1 - t0, resume_s=t2 - t1,
            finalize_s=t3 - t2, versions_before=before, versions_after=after, fp=fp,
        ))

    def check(self) -> tuple[int, int]:
        """Finalized triples equal golden, and the resume call commits no
        new data or checkpoint snapshot (run_metrics takes the sweep's
        gap-accounting row on every call, by design)."""
        from kgpipe.golden import golden_triples

        gold = triples_fingerprint(self.bench.spark, golden_triples(self.corpus))
        attempted = bad = 0
        for cyc in self.cycles:
            attempted += 2
            if cyc["fp"] != gold:
                bad += 1
                self.bench.note(f"finalize triples {cyc['fp']} differ from golden {gold}")
            if cyc["versions_after"] != cyc["versions_before"]:
                bad += 1
                self.bench.note(f"resume committed snapshots: {cyc['versions_before']} "
                                f"-> {cyc['versions_after']}")
            # read back from the warehouse itself, after the timed window
            wh = cyc.pop("wh")
            commits = sorted(r.committed_at.timestamp()
                             for r in wh.checkpoints.read(self.bench.spark).collect())
            cyc["commit_gaps"] = [b - a for a, b in zip([cyc["start"]] + commits, commits)]
            cyc["files"], cyc["bytes"] = hostinfo.tree_bytes(cyc["root"])
            cyc["commits"] = sum(getattr(wh, t).current_version() or 0 for t in self.ALL_TABLES)
            cyc["triples"] = cyc["fp"][0]
        return attempted, bad

    def sizes(self) -> dict:
        last = self.cycles[-1] if self.cycles else {}
        rows = self.corpus.rows
        return {"pages": len(rows),
                "zidian_pages": sum(r["path"].startswith("zidian/") for r in rows),
                "page_bytes": sum(len(r["content"].encode()) for r in rows),
                "seeds": len(self.corpus.seeds), "buckets": self.n_buckets,
                "triples": last.get("triples"), "warehouse_bytes": last.get("bytes"),
                "warehouse_files": last.get("files")}

    def probe_corpora(self) -> dict:
        """The workload's own pages, and the same entities rendered in
        the live site's chrome (the page shape the flat scan declines)."""
        from kgpipe.corpus import generate_corpus

        chromed = generate_corpus(seed=self.bench.seed, chrome=True, **self.shape)
        return {"parse": self.corpus.rows, "parse.chromed": chromed.rows}

    def layers(self, m: dict, ctx: "TraceContext") -> None:
        cycles, tr = self.cycles, ctx.tracer
        pages = len(self.corpus.rows)
        m["ingest_pages_per_s"] = median([pages / c["ingest_s"] for c in cycles])
        m["commit_interval_s"] = median([g for c in cycles for g in c["commit_gaps"]])
        m["resume_s"] = median([c["resume_s"] for c in cycles])
        m["finalize_s"] = median([c["finalize_s"] for c in cycles])
        m["wh_bytes_per_triple"] = median([c["bytes"] / c["triples"] for c in cycles])
        m["materialize.files_written"] = median([c["files"] / c["commits"] for c in cycles])
        m["materialize.bytes_written"] = median([c["bytes"] / c["commits"] for c in cycles])
        m["checkpoint.pending_units_s"] = median(
            [s.duration for s in ctx.named("checkpoint.pending_units")])

        prelude, unit_self, unit_jobs, split = [], [], [], []
        for call in ctx.named("checkpoint.run_incremental"):
            kids = sorted(tr.children(call.sid), key=lambda s: s.start)
            bgs = [k for k in kids if k.name == "pipeline.build_graph"]
            if not bgs:
                continue
            prelude.append(bgs[0].start - call.start)
            # unit k runs from the end of unit k-1's checkpoint commit
            # (unit 1: from its build_graph) to the end of its own
            commits = [k for k in kids if k.name == "materialize.append"
                       and k.attrs.get("table") == "checkpoints"]
            lo = bgs[0].start
            for c in commits:
                inside = [(k.start, k.end) for k in kids if k.start >= lo and k.end <= c.end]
                unit_self.append((c.end - lo) - spans.covered(inside, lo, c.end))
                unit_jobs.append(sum(lo <= j.submitted <= c.end for j in ctx.jobs))
                lo = c.end
            mat = [(k.start, k.end) for k in kids if k.name.startswith("materialize.")]
            split.append((sum(k.duration for k in bgs),
                          spans.covered(mat, call.start, call.end),
                          tr.self_time(call)))
        m["checkpoint.prelude_s"] = median(prelude)
        m["checkpoint.unit_self_s"] = median(unit_self)
        m["checkpoint.jobs_per_unit"] = median(unit_jobs)
        m["checkpoint.ingest.build_graph_s"] = median([s[0] for s in split])
        m["checkpoint.ingest.materialize_s"] = median([s[1] for s in split])
        m["checkpoint.ingest.self_s"] = median([s[2] for s in split])
        runner = ctx.named("checkpoint.run_incremental") + ctx.named("checkpoint.resume")
        ctx.put_stats(m, "checkpoint.runner", runner)


#: workload name -> factory at the benchmark's input sizes
WORKLOADS = {
    "ops-suite": lambda b: OpsSuite(b, table_rows=60000),
    "wh-incremental": lambda b: WarehouseIncremental(
        b, n_hanzi=300, n_words=60, n_idioms=40, n_buckets=1),
}

#: the same workloads shrunk to a few pages (the benchmark's own tests)
TINY = {
    "ops-suite": lambda b: OpsSuite(b, table_rows=3000),
    "wh-incremental": lambda b: WarehouseIncremental(
        b, n_hanzi=20, n_words=12, n_idioms=8, n_buckets=2),
}


# ---------------------------------------------------------------------------
# trace folding
# ---------------------------------------------------------------------------

class TraceContext:
    """Spans of the timed passes joined with the folded event log."""

    def __init__(self, tracer: spans.Tracer, jobs: list, pass_spans: list):
        self.tracer, self.jobs, self.npass = tracer, jobs, max(len(pass_spans), 1)
        window = set()
        for p in pass_spans:
            window |= {s.sid for s in tracer.descendants(p.sid)}
        self.window = [s for s in tracer.spans if s.sid in window]
        self.pass_spans = pass_spans

    def named(self, name: str) -> list:
        return [s for s in self.window if s.name == name]

    def per_pass_sum(self, name: str) -> float:
        return median([sum(s.duration for s in self.tracer.descendants(p.sid, name))
                       for p in self.pass_spans])

    def stats(self, span_list) -> eventlog.JobStats:
        return eventlog.stats_for(self.jobs, {s.sid for s in span_list}, self.npass)

    def put_stats(self, m: dict, prefix: str, span_list) -> None:
        for key, (val, _unit) in self.stats(span_list).as_metrics(prefix).items():
            m[key] = val


# ---------------------------------------------------------------------------
# the run frame
# ---------------------------------------------------------------------------

class Bench:
    #: input set-ups per run; the median is the set-up figure (the first
    #: also pays Spark's first jobs of the session)
    INPUT_REPEATS = 3

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 run_dir: str, tiny: bool = False):
        self.workload_name, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.run_dir = run_dir
        self.tiny = tiny
        self.cpus = hostinfo.nproc()
        self.notes: list[str] = []
        self.tracer: spans.Tracer | None = None
        self.pass_spans: list[spans.Span] = []

    # -- helpers the workloads use -----------------------------------------
    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def note(self, text: str) -> None:
        self.notes.append(text)
        print(f"perfbench: {text}", file=sys.stderr)

    # -- session -----------------------------------------------------------
    def _start_session(self) -> None:
        from kgpipe.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "spark-warehouse"),
        }
        if self.trace:
            self.event_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app_name=f"perfbench-{self.workload_name}",
                               master=f"local[{self.cpus}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def _stop_session(self) -> None:
        """Stop Spark and wait for the JVM it launched to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def _install_tracer(self) -> None:
        import kgpipe.checkpoint as checkpoint
        import kgpipe.pipeline as pipeline
        from kgpipe.materialize import SnapshotTable

        sc = self.spark.sparkContext
        prop = eventlog.SPAN_PROPERTY
        self.tracer = t = spans.Tracer(
            tag=lambda sid: sc.setLocalProperty(prop, None if sid is None else str(sid)))
        t.wrap(checkpoint, "build_graph", "pipeline.build_graph")
        t.wrap(checkpoint, "pending_units", "checkpoint.pending_units")
        t.wrap(checkpoint, "canonicalize_edges", "canon.canonicalize_edges")
        t.wrap(pipeline, "canonical_mapping", "canon.canonical_mapping")
        for op in MAT_OPS:
            t.wrap(SnapshotTable, op, f"materialize.{op}",
                   attrs_fn=lambda table, *a, **k: {"table": table.name})

    # -- the frame -----------------------------------------------------------
    def run(self) -> dict:
        factories = TINY if self.tiny else WORKLOADS
        record = {"workload": self.workload_name, "seed": self.seed,
                  "seconds": self.seconds, "trace": self.trace,
                  "load_1m_start": hostinfo.load_1m()}
        t0 = time.perf_counter()
        self._start_session()
        session_s = time.perf_counter() - t0
        record["env"] = hostinfo.environment(self.spark)
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        passes, failed_passes = [], 0
        try:
            if self.trace:
                self._install_tracer()
            wl = factories[self.workload_name](self)
            loads = []
            for _ in range(self.INPUT_REPEATS):
                t1 = time.perf_counter()
                wl.load()
                loads.append(time.perf_counter() - t1)
            window0 = time.perf_counter()
            while (time.perf_counter() - window0 < self.seconds
                   or len(passes) < wl.min_passes):
                try:
                    with self.span("bench.pass") as sp:
                        p0 = time.perf_counter()
                        wl.one_pass()
                        dt = time.perf_counter() - p0
                except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
                    traceback.print_exc()
                    failed_passes += 1
                    if failed_passes > 2:
                        break
                    continue
                if sp is not None:
                    self.pass_spans.append(sp)
                passes.append(dt)
            window_s = time.perf_counter() - window0
            if not passes:
                raise RuntimeError(f"every timed pass of {self.workload_name} failed")

            t1 = time.perf_counter()
            attempted, bad = wl.check()
            check_s = time.perf_counter() - t1
            rss_mb = hostinfo.vm_hwm_mb(jvm_pid)
            probe = None
            if self.trace:
                import parseprobe

                probe = {prefix: parseprobe.probe(rows, self.seed)
                         for prefix, rows in wl.probe_corpora().items()}
            sizes = wl.sizes()
            wl.release()
        finally:
            if self.tracer is not None:
                self.tracer.restore()
            t1 = time.perf_counter()
            self._stop_session()
            stop_s = time.perf_counter() - t1

        attempted += failed_passes
        failed = bad + failed_passes
        record.update({
            "load_1m_end": hostinfo.load_1m(),
            "sizes": sizes,
            "passes_s": passes,
            "window_s": window_s,
            "session_start_s": session_s,
            "input_setup_s": loads,
            "check_s": check_s,
            "stop_s": stop_s,
            "attempted": attempted,
            "failed": failed,
            "fail_ratio": failed / attempted,
            "correct": failed == 0,
            "notes": self.notes,
            "end_to_end": {
                "setup_s": session_s + median(loads),
                "pass_s": median(passes),
            },
            "driver_peak_rss_mb": rss_mb,
        })
        if isinstance(wl, WarehouseIncremental):
            record["cycles"] = wl.cycles
        if self.trace:
            record["per_layer"] = self._per_layer(wl, record, probe)
            record["spans"] = [vars(s) for s in self.tracer.spans]
        return record

    def _per_layer(self, wl, record: dict, probe: dict) -> dict:
        logs = [p for p in glob.glob(os.path.join(self.event_dir, "*")) if os.path.isfile(p)]
        jobs = eventlog.read_jobs(logs[0]) if logs else []
        eventlog.attribute(jobs, self.tracer)
        ctx = TraceContext(self.tracer, jobs, self.pass_spans)
        m = {name: 0.0 for name, _unit in per_layer_names()}

        m["session.start_s"] = record["session_start_s"]
        m["corpus.load_s"] = median(record["input_setup_s"])
        m["driver_peak_rss_mb"] = record["driver_peak_rss_mb"]
        m["trace.pass_s"] = median(record["passes_s"])
        m["trace.jobs"] = len(jobs)
        m["fail_ratio"] = record["fail_ratio"]
        for prefix, res in probe.items():
            for fam in ("chengyu", "cidian", "zidian"):
                m[f"{prefix}.{fam}.us_per_page"] = res[fam] or 0.0
            m[f"{prefix}.flat_accept_ratio"] = res["flat_accept_ratio"] or 0.0

        bg = ctx.named("pipeline.build_graph")
        if bg:
            tree = {s.sid for s in bg} | {d.sid for s in bg for d in self.tracer.descendants(s.sid)}
            m["pipeline.build_graph_s"] = median([s.duration for s in bg])
            m["pipeline.driver_plan_s"] = median(
                [eventlog.idle_time(jobs, s.start, s.end) for s in bg])
            m["pipeline.jobs"] = sum(j.span in tree for j in jobs) / len(bg)
            ctx.put_stats(m, "pipeline.barrier", bg)
        triples = ctx.named("pipeline.triples")
        m["pipeline.triples_job_s"] = median([s.duration for s in triples])
        ctx.put_stats(m, "pipeline.triples", triples)
        m["canon.canonical_mapping_s"] = ctx.per_pass_sum("canon.canonical_mapping")
        ctx.put_stats(m, "canon.canonical_mapping", ctx.named("canon.canonical_mapping"))
        m["canon.canonicalize_edges_s"] = ctx.per_pass_sum("canon.canonicalize_edges")
        for op in MAT_OPS:
            calls = ctx.named(f"materialize.{op}")
            if calls:
                m[f"materialize.{op}_s"] = sum(s.duration for s in calls) / ctx.npass
                m[f"materialize.{op}.median_s"] = median([s.duration for s in calls])
                m[f"materialize.{op}.calls"] = len(calls) / ctx.npass
                ctx.put_stats(m, f"materialize.{op}", calls)
        wl.layers(m, ctx)
        return m
