"""The repo's benchmark: one closed-loop client issuing registry requests.

Usage, from the repo root::

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 20 --trace 0

One process runs one workload. It generates the inputs from ``--seed``
(``datagen.py``), computes the DuckDB oracle answers, starts Spark as
``local[nproc]`` with ``nproc`` shuffle partitions, builds the
workload's stores, then runs every distinct request once untimed and
checks its output against the oracle (this pass is also the warmup).
The timed loop then issues passes of the workload's requests, each pass
in a seed-shuffled order, one request at a time, until ``--seconds`` have
passed; a started pass is finished. A request is timed from building
its frame to the end of its run (noop sink, or the parquet write).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` (requests that raised or whose query returned a wrong answer)
and ``metrics``. With ``--trace 0`` these are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones, from spans the
benchmark records around its calls into each layer plus Spark's REST API
and streaming progress for the same windows. The lines before it give
every metric by name and unit, the tail percentile and its sample
count, ``failed_frac``, the per-query breakdown and a load canary.
Spans go to ``.perfbench_out/`` when a traced run ends.

Everything the run writes stays under the repo root: inputs, stores,
``TMPDIR``, ``SPARK_GRAFT_SCRATCH_DIR`` and ``SPARK_LOCAL_DIRS`` live in
``.perfbench_work/<pid>/``, which is removed when the run ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "udacity_dend_capstone_immigration_spark"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings")
STORE_MODULES = ("vectors", "dedupstore", "pretrain")

sys.path.insert(0, HERE)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least 10 samples beyond it, as ``(value,
    percentile, n)``. Under 40 samples that percentile would fall to or
    below the median, so a quarter of the samples beyond it is asked
    instead (the maximum under 4 samples)."""
    xs, n = sorted(values), len(values)
    k = n - 1 - min(10, n // 4)
    return xs[k], (100.0 * k / (n - 1) if n > 1 else 100.0), n


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for nm in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, nm))
                files += 1
            except OSError:
                pass
    return total, files


def hermetic_env(work: str) -> dict[str, str]:
    """Point every temp, scratch and shuffle location at ``work`` and put
    the package on the Python workers' path. Must run before the JVM starts."""
    dirs = {k: os.path.join(work, k)
            for k in ("data", "tmp", "scratch", "spark-local", "out", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_GRAFT_SCRATCH_DIR"] = dirs["scratch"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    # the launcher JVM spark-submit runs first: keep its tmp files here too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


def build_store(spark, data_dir: str, module: str, kind: str) -> None:
    if module == "vectors":
        from udacity_dend_capstone_immigration_spark.workload.vectors import served_index_dir

        served_index_dir(spark, data_dir, kind=kind)
    elif module == "dedupstore":
        from udacity_dend_capstone_immigration_spark.workload.dedupstore import (
            served_dedup_index_dir,
        )

        served_dedup_index_dir(spark, data_dir)
    elif module == "pretrain":
        from udacity_dend_capstone_immigration_spark.workload.pretrain import served_bpe_dir

        served_bpe_dir(spark, data_dir)
    else:
        raise ValueError(f"unknown store module {module!r}")


class Bench:
    def __init__(self, args, wl, dirs, cores):
        from spans import Tracer

        self.args, self.wl, self.dirs, self.cores = args, wl, dirs, cores
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.excluded_s = 0.0  # input generation, oracle answers, result comparison
        self.requests: list[dict] = []  # timed requests
        self.checks: dict[str, str | None] = {}
        self.check_s: dict[str, float] = {}
        self.result_rows: dict[str, int] = {}
        self.store_sizes: dict[str, list[int]] = {m: [0, 0] for m in STORE_MODULES}
        self.phases: dict[str, float] = {}  # wall seconds per phase, for the report

    # -- inputs and oracles (excluded from setup_s) -------------------------
    def prepare(self):
        import datagen
        from oracle import oracle_answers

        from udacity_dend_capstone_immigration_spark.workload import ORACLES

        t0 = time.perf_counter()  # the registry import above counts as setup
        datagen.generate(self.dirs["data"], self.args.seed, self.wl.sf)
        names = {r.name for r in self.wl.requests}
        self.oracles = oracle_answers(
            self.dirs["data"], TABLES, {n: ORACLES[n] for n in sorted(names)}, self.cores
        )
        self.input_bytes = {
            t: os.path.getsize(os.path.join(self.dirs["data"], f"{t}.parquet")) for t in TABLES
        }
        self.excluded_s += time.perf_counter() - t0

    # -- session --------------------------------------------------------------
    def start_session(self):
        from udacity_dend_capstone_immigration_spark.session import get_spark_session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": self.dirs["warehouse"],
            # no hsperfdata file in /tmp: the run writes only under the repo
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.dirs['tmp']} -XX:-UsePerfData"
            ),
        }
        if self.args.trace:
            conf.update({
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            })
        with self.tracer.span("session.start"):
            self.spark = get_spark_session(
                app_name="perfbench",
                master=f"local[{self.cores}]",
                shuffle_partitions=self.cores,
                extra_conf=conf,
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        if self.args.trace:
            from spans import ProgressListener

            self.listener = ProgressListener()
            self.spark.streams.addListener(self.listener)

    def stop_session(self):
        """Stop Spark, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        for q in self.spark.streams.active:
            q.stop()
        self.spark.sparkContext.setLogLevel("OFF")
        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None

    # -- one request ----------------------------------------------------------
    def issue(self, req, rid: int, collect: bool):
        """Run one request; returns ``(columns, rows)`` when ``collect``."""
        from udacity_dend_capstone_immigration_spark.workload import QUERIES

        spark, tr = self.spark, self.tracer
        with tr.span("workload.build", request=rid):
            df = QUERIES[req.name](spark, self.dirs["data"])
        if req.partition_by is None:
            with tr.span("workload.exec", request=rid):
                if collect:
                    return df.columns, df.collect()
                df.write.format("noop").mode("overwrite").save()
            return None
        from udacity_dend_capstone_immigration_spark.plans.dq import constraint_report
        from udacity_dend_capstone_immigration_spark.sources.writers import write_parquet

        if req.dq:
            with tr.span("plans.dq", request=rid):
                constraint_report(df, req.dq()).collect()
        target = os.path.join(self.dirs["out"], f"{req.name}_{rid}")
        with tr.span("sources.write", request=rid, path=target):
            write_parquet(df, target, partition_by=req.partition_by)
        if collect:
            from pyspark.sql import functions as F

            back = spark.read.parquet(target).select(
                *[F.col(c).cast(t) for c, t in df.dtypes]
            )
            return back.columns, back.collect()
        return None

    def written_bytes(self) -> int:
        return tree_size(self.dirs["tmp"])[0] + tree_size(self.dirs["scratch"])[0]

    # -- phases ---------------------------------------------------------------
    def setup(self):
        from pyspark.sql import functions as F

        self.start_session()
        with self.tracer.span("session.warmup"):
            self.spark.range(1_000_000).select(F.sum("id")).collect()
        for module, kind in self.wl.stores:
            before = set(os.listdir(self.dirs["tmp"]))
            with self.tracer.span(f"{module}.store_build", kind=kind):
                build_store(self.spark, self.dirs["data"], module, kind)
            for d in set(os.listdir(self.dirs["tmp"])) - before:
                b, f = tree_size(os.path.join(self.dirs["tmp"], d))
                self.store_sizes[module][0] += b
                self.store_sizes[module][1] += f
        self.check_pass()

    def check_pass(self):
        """Every distinct request once, untimed, checked against its oracle.
        Writes are checked by reading back what they wrote."""
        from oracle import compare

        seen = []
        for req in self.wl.requests:
            if req.name in self.checks:
                continue
            rid = -1 - len(seen)
            seen.append(req.name)
            c0 = time.perf_counter()
            try:
                with self.tracer.span("check", request=rid, query=req.name):
                    cols, rows = self.issue(req, rid, collect=True)
            except Exception:
                traceback.print_exc()
                self.checks[req.name] = "raised"
                continue
            finally:
                self.check_s[req.name] = time.perf_counter() - c0
            t0 = time.perf_counter()
            self.result_rows[req.name] = len(rows)
            ocols, orows = self.oracles[req.name]
            self.checks[req.name] = compare(cols, [tuple(r) for r in rows], ocols, orows)
            self.excluded_s += time.perf_counter() - t0

    def loop(self):
        rng = random.Random(self.args.seed)
        rid = 0
        t0 = time.perf_counter()
        while True:
            order = list(self.wl.requests)
            rng.shuffle(order)
            for req in order:
                registry_write = req.kind == "write" and req.partition_by is None
                before = self.written_bytes() if registry_write else 0
                rec = {"id": rid, "name": req.name, "kind": req.kind, "ok": False}
                with self.tracer.span("request", request=rid, query=req.name):
                    s0 = time.perf_counter()
                    try:
                        self.issue(req, rid, collect=False)
                        rec["ok"] = True
                    except Exception:
                        traceback.print_exc()
                    rec["latency_s"] = time.perf_counter() - s0
                if rec["ok"] and req.kind == "write":
                    if registry_write:
                        rec["stored_bytes"] = self.written_bytes() - before
                    else:
                        rec["stored_bytes"] = tree_size(
                            os.path.join(self.dirs["out"], f"{req.name}_{rid}")
                        )[0]
                    rec["input_bytes"] = sum(self.input_bytes[t] for t in req.inputs)
                self.requests.append(rec)
                rid += 1
            if time.perf_counter() - t0 >= self.args.seconds:
                break
        self.loop_wall = time.perf_counter() - t0

    def canary(self) -> float:
        """A fixed CPU-bound job sized to the cores (md5 per row is what
        makes it CPU-bound); context for readers, not a metric."""
        from pyspark.sql import functions as F

        c0 = time.perf_counter()
        self.spark.range(0, 1_000_000 * self.cores, 1, self.cores).select(
            F.sum(F.xxhash64(F.md5(F.col("id").cast("string"))))
        ).collect()
        return time.perf_counter() - c0

    # -- metrics --------------------------------------------------------------
    def wrong(self, rec) -> bool:
        return not rec["ok"] or self.checks.get(rec["name"]) is not None

    def end_to_end(self) -> dict:
        reads = [r["latency_s"] for r in self.requests if r["ok"] and r["kind"] == "read"]
        writes = [r["latency_s"] for r in self.requests if r["ok"] and r["kind"] == "write"]
        stored = sum(r.get("stored_bytes", 0) for r in self.requests)
        inputs = sum(r.get("input_bytes", 0) for r in self.requests)
        done = sum(1 for r in self.requests if r["ok"])
        rt, wt = tail(reads), tail(writes)
        m = {
            "setup_s": (self.setup_s, "s"),
            "read_p50_s": (statistics.median(reads), "s"),
            "read_tail_s": (rt[0], "s"),
            "write_p50_s": (statistics.median(writes), "s"),
            "write_tail_s": (wt[0], "s"),
            "requests_per_s": (done / self.loop_wall, "1/s"),
            "stored_bytes_per_input_byte": (stored / inputs, "ratio"),
        }
        self.notes = {
            "read_tail": f"p{rt[1]:.1f} of {rt[2]} reads",
            "write_tail": f"p{wt[1]:.1f} of {wt[2]} writes",
            "failed_frac": sum(map(self.wrong, self.requests)) / len(self.requests),
        }
        return m

    def per_layer(self) -> dict:
        from spans import proc_io, proc_status, sql_totals, stage_totals, spark_windows

        tr, reqs = self.tracer, self.requests
        n = len(reqs)
        spans = tr.spans
        by_req: dict[int, list[dict]] = {}
        for s in spans:
            if s["request"] is not None and s["request"] >= 0 and s["name"] != "request":
                by_req.setdefault(s["request"], []).append(s)
        windows = [(s["start"], s["end"], (s["request"], s["name"]))
                   for ss in by_req.values() for s in ss]
        # listener events arrive on the listener bus: let it drain
        last, t_wait = -1, time.perf_counter()
        while len(self.listener.progress) != last and time.perf_counter() - t_wait < 10:
            last = len(self.listener.progress)
            time.sleep(1.0)
        att = spark_windows(self.spark.sparkContext.uiWebUrl, windows)

        def jobs_in(*phases):
            return sum(len(v["jobs"]) for (_rid, ph), v in att.items() if ph in phases)

        all_stages = [s for v in att.values() for s in v["stages"]]
        all_sql = [q for v in att.values() for q in v["sql"]]
        st, sq = stage_totals(all_stages), sql_totals(all_sql)
        jobs = sum(len(v["jobs"]) for v in att.values())

        def span_s(name):
            return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

        def loop_span_s(name):
            return sum(s["end"] - s["start"] for ss in by_req.values() for s in ss
                       if s["name"] == name)

        writer_writes = [r for r in reqs if r["kind"] == "write"
                         and any(s["name"] == "sources.write" for s in by_req.get(r["id"], []))]
        nw = max(len(writer_writes), 1)
        wbytes = wfiles = 0
        for r in writer_writes:
            b, f = tree_size(os.path.join(self.dirs["out"], f"{r['name']}_{r['id']}"))
            wbytes, wfiles = wbytes + b, wfiles + f

        lo = min(s["start"] for ss in by_req.values() for s in ss)
        hi = max(s["end"] for ss in by_req.values() for s in ss)
        prog = [p for p in self.listener.progress if lo <= p["ts"] <= hi]

        def prog_s(key):
            return sum(p["ms"].get(key, 0) for p in prog) / 1e3 / n

        req_wall = sum(r["latency_s"] for r in reqs)
        layer_self = sum(
            tr.self_time(s) for ss in by_req.values() for s in ss
        )
        m = {
            "session.start_s": (span_s("session.start"), "s"),
            "session.warmup_s": (span_s("session.warmup"), "s"),
            "workload.build_s": (loop_span_s("workload.build") / n, "s"),
            "workload.exec_s": (loop_span_s("workload.exec") / n, "s"),
            "workload.eager_jobs": (jobs_in("workload.build") / n, "count"),
            "workload.exec_jobs": (
                jobs_in("workload.exec", "plans.dq", "sources.write") / n, "count"),
            "sources.write_s": (loop_span_s("sources.write") / nw, "s"),
            "sources.write_jobs": (jobs_in("sources.write") / nw, "count"),
            "sources.bytes_written": (wbytes / nw, "B"),
            "sources.files_written": (wfiles / nw, "count"),
            "plans.dq_s": (loop_span_s("plans.dq") / nw, "s"),
            "streaming.batches": (len(prog) / n, "count"),
            "streaming.trigger_s": (prog_s("triggerExecution"), "s"),
            "streaming.add_batch_s": (prog_s("addBatch"), "s"),
            "streaming.planning_s": (prog_s("queryPlanning"), "s"),
            "streaming.wal_commit_s": (prog_s("walCommit"), "s"),
            "streaming.commit_offsets_s": (prog_s("commitOffsets"), "s"),
        }
        for key in ("worker_boot_s", "worker_init_s", "worker_run_s"):
            m[f"operators.{key}"] = (sq[key] / n, "s")
        for key in ("worker_bytes_in", "worker_bytes_out"):
            m[f"operators.{key}"] = (sq[key] / n, "B")
        m["spark.jobs"] = (jobs / n, "count")
        for key in ("stages", "stages_skipped", "tasks", "tasks_failed"):
            m[f"spark.{key}"] = (st[key] / n, "count")
        for key in ("task_run_s", "jvm_cpu_s", "gc_s", "shuffle_fetch_wait_s"):
            m[f"spark.{key}"] = (st[key] / n, "s")
        for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes"):
            m[f"spark.{key}"] = (st[key] / n, "B")
        m["spark.input_records"] = (st["input_records"] / n, "count")
        m["spark.core_busy_frac"] = (st["task_run_s"] / (req_wall * self.cores), "ratio")
        results = sum(self.result_rows.get(r["name"], 0) for r in reqs)
        m["spark.rows_examined_per_result"] = (st["input_records"] / max(results, 1), "ratio")
        for key in ("exchanges", "sorts", "broadcasts", "local_relation_scans"):
            m[f"spark.plan.{key}"] = (sq[key] / n, "count")
        for mod in STORE_MODULES:
            m[f"{mod}.store_build_s"] = (span_s(f"{mod}.store_build"), "s")
            m[f"{mod}.store_bytes"] = (self.store_sizes[mod][0], "B")
            m[f"{mod}.store_files"] = (self.store_sizes[mod][1], "count")
        m["proc.jvm_peak_rss_mb"] = (proc_status(self.jvm_pid, "VmHWM"), "MiB")
        m["proc.jvm_wchar_bytes"] = (
            (proc_io(self.jvm_pid, "wchar") - self.wchar0) / n, "B")
        m["trace.self_coverage_frac"] = (layer_self / req_wall, "ratio")
        m["trace.hook_s"] = (tr.hook_s / n, "s")
        self.per_query = self.query_breakdown(by_req, att)
        return m

    def query_breakdown(self, by_req, att) -> dict:
        """Per query name: mean build / exec seconds and jobs per request."""
        out: dict[str, dict] = {}
        for r in self.requests:
            q = out.setdefault(r["name"], {"n": 0, "latency_s": 0.0, "build_s": 0.0,
                                           "eager_jobs": 0, "exec_jobs": 0})
            q["n"] += 1
            q["latency_s"] += r["latency_s"]
            for s in by_req.get(r["id"], []):
                v = att.get((r["id"], s["name"]), {"jobs": []})
                if s["name"] == "workload.build":
                    q["build_s"] += s["end"] - s["start"]
                    q["eager_jobs"] += len(v["jobs"])
                else:
                    q["exec_jobs"] += len(v["jobs"])
        for q in out.values():
            for k in ("latency_s", "build_s", "eager_jobs", "exec_jobs"):
                q[k] /= q["n"]
        return out

    def run(self) -> dict:
        from spans import proc_io

        ph = self.phases
        ph["imports_s"] = time.perf_counter() - T_START
        with self.tracer.span("run"):
            self.prepare()
            ph["inputs_and_oracles_s"] = self.excluded_s
            t0 = time.perf_counter()
            with self.tracer.span("setup"):
                self.setup()
            ph["setup_and_check_s"] = time.perf_counter() - t0
            self.setup_s = time.perf_counter() - T_START - self.excluded_s
            self.wchar0 = proc_io(self.jvm_pid, "wchar")
            self.loop()
        ph["loop_s"] = self.loop_wall
        t0 = time.perf_counter()
        self.e2e = self.end_to_end()
        metrics = self.per_layer() if self.args.trace else self.e2e
        ph["metrics_s"] = time.perf_counter() - t0
        self.canary_s = self.canary()
        self.load_avg = os.getloadavg()
        return metrics


def report(bench: Bench, metrics: dict) -> None:
    a = bench.args
    print(f"# perfbench workload={a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={a.trace} cores={bench.cores} sf={bench.wl.sf} "
          f"requests={len(bench.requests)} loop_wall_s={bench.loop_wall:.3f}")
    for name, (value, unit) in metrics.items():
        print(f"{name:34s} {value:16.6f} {unit}")
    if a.trace:  # compare with an untraced run of the same seed for the overhead
        for name, (value, unit) in bench.e2e.items():
            print(f"# untraced metric, traced run: {name} {value:.6f} {unit}")
    for k, v in bench.notes.items():
        print(f"# {k}: {v}")
    for name, problem in bench.checks.items():
        print(f"# check {name}: {'ok' if problem is None else 'WRONG ' + problem} "
              f"({bench.check_s[name]:.1f}s)")
    by_name: dict[str, list[float]] = {}
    for r in bench.requests:
        by_name.setdefault(r["name"], []).append(r["latency_s"])
    for name, xs in sorted(by_name.items()):
        print(f"# latency {name:34s} " + " ".join(f"{x:.3f}" for x in xs))
    if a.trace:
        for name, q in sorted(bench.per_query.items()):
            print(f"# query {name:34s} n={q['n']} latency={q['latency_s']:.3f}s "
                  f"build={q['build_s']:.3f}s eager_jobs={q['eager_jobs']:.1f} "
                  f"exec_jobs={q['exec_jobs']:.1f}")
    print(f"# canary_s={bench.canary_s:.3f} load_avg={list(bench.load_avg)}")
    print("# phases: " + " ".join(f"{k}={v:.1f}" for k, v in bench.phases.items()))


def write_trace(bench: Bench, metrics: dict) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    a = bench.args
    doc = {
        "workload": a.workload, "seed": a.seed, "cores": bench.cores,
        "canary_s": bench.canary_s, "load_avg": bench.load_avg,
        "metrics": metrics, "per_query": bench.per_query,
        "spans": bench.tracer.spans,
    }
    with open(os.path.join(out, f"trace_{a.workload}_seed{a.seed}.json"), "w") as f:
        json.dump(doc, f, default=str)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    from workloads import workloads

    wls = workloads()
    if args.workload not in wls:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(wls)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    dirs = hermetic_env(work)
    sys.path.insert(0, ROOT)
    bench = Bench(args, wls[args.workload], dirs, cores)
    try:
        metrics = bench.run()
    finally:
        t0 = time.perf_counter()
        bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        bench.phases["stop_s"] = time.perf_counter() - t0
    report(bench, metrics)
    if args.trace:
        write_trace(bench, metrics)
    failed = sum(map(bench.wrong, bench.requests))
    print(json.dumps({
        "correct": failed == 0 and all(v is None for v in bench.checks.values()),
        "attempted": len(bench.requests),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
