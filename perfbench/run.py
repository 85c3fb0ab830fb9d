"""The repository's benchmark: oracle-checked store builds, plus traced
per-layer figures for the build stages and the SPARQL endpoint.

    python3 perfbench/run.py --workload build_short_hot --seed 1 \
        --seconds 5 --trace 0

Run it from the repository root (perfbench/DESIGN.md describes the
workloads and metrics).  One run is one process.  It writes the
workload's `events` parquet from `--seed` with DuckDB and computes the
oracle's expectations while the Spark session starts the way users get
it (`session.get_spark`, local[nproc]).  Spark then derives the
transcripts input (`synth.transcripts_from_events`), and the store is
built through the user entry point — `cli --build` for
`build_short_hot`, the `scripts/kg_submit_job.py` default call for
`build_long_arrow` — for `--seconds` (at least once).  Each build goes
into a fresh store and is checked against the oracle (full `ranges` and
`statements` tables) outside its timing.

`--trace 0` prints the end-to-end metrics.  `--trace 1` runs the same
builds with Spark's file event log on and spans recorded around the
program's public calls (`tracing.py`), then serves the declared SPARQL
mix from `web.make_app` over loopback HTTP against the last store — one
untimed pass, then whole passes for `--seconds`, every response checked
against its declared query's oracle twin — and prints the per-layer
metrics.

The last stdout line is the result JSON; the line before it holds the
run's input properties, host facts, session settings and raw samples.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import concurrent.futures  # noqa: E402
import contextlib  # noqa: E402
import http.client  # noqa: E402
import importlib.util  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import urllib.parse  # noqa: E402
from wsgiref.simple_server import WSGIRequestHandler, make_server  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "wikidata_sparql_history_spark"

WORKLOADS = {
    # name -> (corpus in gen.CORPORA, build entry point)
    "build_short_hot": ("short_hot", "cli"),
    "build_long_arrow": ("long", "submit"),
}
MB = 1024 * 1024


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _proc_kb(path: str, key: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _peak_rss_mb() -> float:
    """VmHWM of the Spark JVM and its Python workers (all descendants)."""
    return sum(_proc_kb(f"/proc/{p}/status", "VmHWM")
               for p in _descendants(os.getpid())) / 1024


class _QuietHandler(WSGIRequestHandler):
    def log_message(self, *args):
        pass


def _environment(work: str) -> None:
    """Run the program as users get it: of its settings only
    SPARK_GRAFT_CPUS is set (to nproc), the repo is importable by Spark's
    Python workers, and every scratch file lands in the run's work dir."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ.pop("OMP_NUM_THREADS", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    # shuffle/spill scratch stays inside the checkout (the default is /dev/shm)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, work: str):
        self.workload, self.seed, self.seconds, self.work = workload, seed, seconds, work
        self.corpus, self.entry = WORKLOADS[workload]
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.storage_held: list[float] = []
        self.spark = None

    # -- set-up ----------------------------------------------------------------

    def prepare(self) -> None:
        """Generate the corpus and compute every expectation (DuckDB)."""
        import duckdb

        import gen
        from oracle import Oracle

        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{self.work}/duckdb'")
        self.events = os.path.join(self.work, "events.parquet")
        gen.write_events(self.con, self.corpus, self.seed, self.events)
        self.props = gen.input_properties(self.con)
        self.oracle = Oracle(self.con)
        self.props["ranges_rows"] = self.oracle.ranges_rows
        self.props["hot_subject_share_of_ranges"] = round(
            self.oracle.hot_rows / self.oracle.ranges_rows, 4)

    def start_session(self, event_log: str | None) -> None:
        from wikidata_sparql_history_spark.session import get_spark

        conf = {}
        if event_log:
            os.makedirs(event_log)
            conf = {"spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false"}
        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)

    def write_input(self) -> None:
        """The build's input: Spark derives the transcripts from events."""
        from wikidata_sparql_history_spark import synth

        self.input = os.path.join(self.work, "transcripts")
        events = self.spark.read.parquet(self.events)
        synth.transcripts_from_events(events).write.parquet(self.input)
        self.props["input_mb"] = round(_du(self.input) / MB, 4)

    # -- builds ----------------------------------------------------------------

    def _build_call(self, store: str) -> None:
        if self.entry == "cli":
            from wikidata_sparql_history_spark import cli

            cli.main(["--build", self.input, "--store", store],
                     spark=self.spark, out=io.StringIO())
            return
        spec = importlib.util.spec_from_file_location(
            "kg_submit_job", os.path.join(ROOT, "scripts", "kg_submit_job.py"))
        job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(job)
        argv = sys.argv
        sys.argv = ["kg_submit_job.py", "--input", self.input, "--output", store]
        try:
            with contextlib.redirect_stdout(io.StringIO()):
                job.main()
        finally:
            sys.argv = argv

    def build(self, tracer=None) -> float | None:
        """One build into a fresh store, checked; its seconds, or None."""
        store = os.path.join(self.work, "store")
        shutil.rmtree(store, ignore_errors=True)
        self.attempted += 1
        span = tracer.build_span() if tracer else contextlib.nullcontext()
        t = time.perf_counter()
        try:
            with span:
                self._build_call(store)
        except Exception as e:  # a failed build is a counted failure
            self.failed += 1
            self.failures.append(f"build: {type(e).__name__}: {e}"[:300])
            return None
        dt = time.perf_counter() - t
        # never unpersist on the program's behalf: what it leaves pinned shows
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.storage_held.append(sum(i.memSize() + i.diskSize() for i in infos) / MB)
        bad = self.oracle.check_store(store)
        if bad:
            self.failed += 1
            self.failures.append(f"build: oracle mismatch in {bad}")
        self.store = store
        self.store_mb = _du(store) / MB
        return dt

    def builds(self, tracer=None) -> list[float]:
        """Builds for `seconds`, at least one."""
        samples, t0 = [], time.perf_counter()
        while not samples or time.perf_counter() - t0 < self.seconds:
            dt = self.build(tracer)
            if dt is None:
                raise RuntimeError("build failed: " + "; ".join(self.failures))
            samples.append(dt)
        return samples

    # -- serving ---------------------------------------------------------------

    def _request(self, port: int, cls: str, tracer) -> float:
        from oracle import QUERIES

        self.attempted += 1
        path = "/sparql?" + urllib.parse.urlencode({"query": QUERIES[cls]})
        span = tracer.request_span(cls) if tracer else contextlib.nullcontext()
        with span as r:
            t = time.perf_counter()
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
            try:
                conn.request("GET", path,
                             headers={"Accept": "text/tab-separated-values"})
                resp = conn.getresponse()
                body = resp.read()
            finally:
                conn.close()
            dt = time.perf_counter() - t
        text = body.decode("utf-8", "replace")
        if r is not None:
            r.attrs.update(bytes=len(body), rows=max(text.count("\n") - 1, 0))
        if resp.status != 200 or not self.oracle.check_response(cls, text):
            self.failed += 1
            self.failures.append(f"{cls}: HTTP {resp.status} {text[:200]!r}")
        return dt

    def serve(self, tracer) -> tuple[list[tuple[str, float]], float]:
        """Closed loop, one client: an untimed pass of the mix, then whole
        passes for `seconds`.  (class, seconds) of each timed request and
        the timed window's wall seconds."""
        from oracle import QUERIES
        from wikidata_sparql_history_spark import web

        # max_rows is a deployment setting: sized so no response truncates
        app = web.make_app(self.spark, self.store, max_rows=self.oracle.max_rows + 1)
        server = make_server("127.0.0.1", 0, app, handler_class=_QuietHandler)
        port = server.server_address[1]
        thread = threading.Thread(target=server.serve_forever,
                                  kwargs={"poll_interval": 0.05})
        thread.start()
        samples = []
        try:
            for cls in QUERIES:
                self._request(port, cls, None)
            t0 = time.perf_counter()
            while not samples or time.perf_counter() - t0 < self.seconds:
                for cls in QUERIES:
                    samples.append((cls, self._request(port, cls, tracer)))
            window = time.perf_counter() - t0
        finally:
            server.shutdown()
            server.server_close()
            thread.join()
        return samples, window

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def _shutdown_jvm() -> None:
    """Stop the py4j gateway and the JVM it launched, and wait for every
    child process (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        with contextlib.suppress(Exception):
            gw.shutdown()
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while (left := _descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
    for pid in left:
        with contextlib.suppress(ChildProcessError):
            os.waitpid(pid, 0)


def _end_to_end(b: Bench, setup_s: float, builds: list[float]) -> dict:
    build_s = statistics.median(builds)
    return {
        "setup_s": (setup_s, "s"),
        "build_s": (build_s, "s"),
        "build_triples_per_s": (b.oracle.ranges_rows / build_s, "1/s"),
        "store_mb_per_input_mb": (b.store_mb / b.props["input_mb"], "ratio"),
    }


def _unit(name: str) -> str:
    for suffix, unit in ((".s", "s"), ("_s", "s"), ("_ms", "ms"), ("_mb", "MB"),
                         ("_kb", "KB"), ("_qps", "1/s"), ("skew", "ratio"),
                         ("returned", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def _per_layer(b: Bench, tracer, event_log: str, builds: list[float],
               requests: list[tuple[str, float]], window: float) -> dict:
    """Medians over the traced run's samples (one per build or request)."""
    import tracing

    log = [os.path.join(event_log, f) for f in os.listdir(event_log)]
    groups = tracing.fold_event_log(max(log, key=os.path.getsize))
    samples = {
        **tracing.build_layers(tracer, groups, tracer.named("build")),
        **tracing.serve_layers(tracer, groups, tracer.named("request")),
    }
    out = {name: (statistics.median(xs), _unit(name)) for name, xs in samples.items()}
    lat = [s for _, s in requests]
    out.update({
        "serve.query_p50_ms": (statistics.median(lat) * 1000, "ms"),
        "serve.query_qps": (len(lat) / window, "1/s"),
        "spark.storage_held_mb": (b.storage_held[-1], "MB"),
        "spark.peak_rss_mb": (b.peak_rss_mb, "MB"),
        # minus the untraced runs' median build_s: the tracing overhead
        "trace.build_s": (statistics.median(builds), "s"),
    })
    return out


def _host_facts(spark) -> dict:
    import duckdb
    import pyarrow

    conf = spark.sparkContext.getConf()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": _proc_kb("/proc/meminfo", "MemTotal"),
        "python": platform.python_version(),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "master": conf.get("spark.master"),
        "spark.driver.memory": conf.get("spark.driver.memory"),
        "spark.local.dir": conf.get("spark.local.dir"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ is not in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        _environment(work)
        b = Bench(args.workload, args.seed, args.seconds, work)
        event_log = os.path.join(work, "eventlog") if args.trace else None
        # DuckDB releases the GIL: generate and compute the oracle while
        # the JVM starts
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            prepared = pool.submit(b.prepare)
            b.start_session(event_log)
            prepared.result()
        phases = {"session_and_oracle_s": time.perf_counter() - _T0}
        b.write_input()
        setup_s = time.perf_counter() - _T0
        phases["input_s"] = setup_s - phases["session_and_oracle_s"]
        info.update(_host_facts(b.spark), setup_phases_s=phases)
        if args.trace:
            import tracing

            tracer = tracing.Tracer(b.spark.sparkContext)
            tracer.install()
            try:
                builds = b.builds(tracer)
                requests, window = b.serve(tracer)
            finally:
                tracer.uninstall()
            b.peak_rss_mb = _peak_rss_mb()
            b.stop_session()  # flushes the event log
            metrics = _per_layer(b, tracer, event_log, builds, requests, window)
            tracer.dump(os.path.join(
                os.path.dirname(work), f"spans-{args.workload}-{args.seed}.json"))
            info["requests"] = len(requests)
        else:
            builds = b.builds()
            b.peak_rss_mb = _peak_rss_mb()
            metrics = _end_to_end(b, setup_s, builds)
        b.stop_session()
    finally:
        _shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    info.update(input=b.props, build_s_samples=builds,
                storage_held_mb=b.storage_held, peak_rss_mb=b.peak_rss_mb,
                error_rate=b.failed / b.attempted, failures=b.failures[:10])
    for name, (value, unit) in metrics.items():
        print(f"{name:48s} {value:14.4f} {unit}")
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
