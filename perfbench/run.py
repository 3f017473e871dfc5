#!/usr/bin/env python3
"""Layered end-to-end benchmark of the real-time warehouse.

Run from the root of a checkout:

    python3 perfbench/run.py --workload warehouse_batch --seed 1 --seconds 10 --trace 0

A run generates its inputs from ``--seed`` (perfbench/fixtures.py) and
drives the package's public functions from outside, the way a deployment
would:

- Set-up, ``SETUP_REPS`` times: launch the JVM and start the session
  (``session.build_session``), write the inputs, start the ADS HTTP server
  (``serving_http.make_server``). ``setup_s`` is the median.
- Warm-up, untimed by the end-to-end metrics: one warehouse pass over tiny
  inputs, which pays the fresh JVM's class loading and JIT.
- ``PASSES`` times: ``plans.warehouse.build_ods`` -> ``build_dim`` ->
  ``build_dwd`` -> ``build_dws`` -> ``ads_gmv`` for seeded dates, each
  pass into a fresh output dir. ``warehouse_s`` is the median wall time of
  a pass; traced runs add ``warehouse_cpu_s``, the median executor CPU
  time of its tasks, read from Spark's event log.
- Traced runs (``--trace 1``) then also build and collect three
  ``plans.registry`` queries, serve ``serving_http.make_server`` under an
  open loop of seeded arrivals for ``--seconds`` seconds (/gmv, /province,
  /similar, each request timed from its scheduled send time), and report
  the per-layer metrics: each public call runs under its own job group,
  and perfbench/eventlog.py sums tasks, executor CPU and shuffle bytes per
  group.

Outputs are checked outside the timed regions (perfbench/checks.py) against
DuckDB over the same fixtures: ADS gmv per date, DWS ``sku_order``, every
/gmv and /province payload, and each query's registered oracle. A
mismatch or an HTTP error is a failed operation, and the run exits 1; a
call that raises ends the run with no result line. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` ({name: {"value", "unit"}}).

Everything the run writes, the event log included, stays under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import urllib.error
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

from fixtures import Shape, order_dates, write_tables  # noqa: E402

WORKLOADS = {
    # 60 order dates at sf0.1's density (62 orders a date): 60 DWD date
    # files that DWS reads back
    "warehouse_batch": Shape(orders=3750, order_days=60),
    # the same tables with orders on 15 dates only, at the same density: the
    # cost is per-job overhead of every layer, and a DWD layout change moves
    # it far less than warehouse_batch
    "warehouse_recent": Shape(orders=938, order_days=15),
}
# PERFBENCH_TINY=1 shrinks every input, for the smoke test
TINY = Shape(customers=50, suppliers=10, parts=80, orders=300, order_days=5, events=300,
             documents=60, embeddings=60)
SETUP_REPS = 2  # each launches its own JVM; setup_s is the median
PASSES = 2  # measured warehouse passes after the warm-up; medians are reported
ADS_DATES = 2
QUERIES = (
    "ext_entity_resolution",  # eager: connected components run at build time
    "ann_ivf_topk",  # operators.similarity: IVF assign + probe-pruned top-k
    "tpch_q5_local_supplier_volume",  # six-table join, no eager work
)
ROUTES = {"gmv": 0.50, "province": 0.35, "similar": 0.15}
SERVE_RATE = 1.5  # requests/s, about half the measured 4-core capacity
LAYERS = ("ods", "dim", "dwd", "dws", "ads")

E2E_UNITS = {"setup_s": "s", "warehouse_s": "s"}


def per_layer_units() -> dict[str, str]:
    units = {"jvm_peak_rss_mb": "MB", "warehouse.warmup_s": "s", "warehouse_cpu_s": "s"}
    for layer in LAYERS:
        units[f"warehouse.{layer}_s"] = "s"
        if layer != "ads":
            units[f"warehouse.{layer}_files"] = "count"
        for k, u in (("tasks", "count"), ("cpu_s", "s"), ("shuffle_mb", "MB")):
            units[f"warehouse.{layer}_{k}"] = u
    for route in ROUTES:
        for k in ("p50_ms", "p90_ms", "direct_ms"):
            units[f"serve.{route}.{k}"] = "ms"
    units.update(
        {"serve.requests": "count", "serve.late_ms_max": "ms", "serve.jobs_per_request": "count"}
    )
    for q in QUERIES:
        for k, u in (("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"),
                     ("cpu_s", "s"), ("shuffle_mb", "MB")):
            units[f"query.{q}.{k}"] = u
    units["queries_s"] = "s"
    return units


def percentile(xs: list[float], q: int) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


class Run:
    """One benchmark run: counts operations and failures, collects samples."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.shape = TINY if os.environ.get("PERFBENCH_TINY") == "1" else WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.work = os.path.join(
            ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.spans: dict[str, tuple[float, float]] = {}  # phase -> wall interval
        self.spark = None
        self.server = None

    # -- bookkeeping ---------------------------------------------------------

    def op(self, ok: bool, what: str | None) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what or "unknown failure")

    def check(self, mismatches: list[str]) -> None:
        for msg in mismatches or [None]:
            self.op(msg is None, msg)

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def tag(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    @property
    def sf_dir(self) -> str:
        return os.path.join(self.work, "in", "tables")

    # -- set-up --------------------------------------------------------------

    def session_conf(self) -> dict[str, str]:
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(self.work, "eventlog"),
            "spark.eventLog.compress": "false",
        }

    def stop(self) -> None:
        """Stop the HTTP server, the session and its JVM."""
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None
        stop_jvm(self.spark)
        self.spark = None

    def setup(self) -> None:
        """What a user pays before the first query, ``SETUP_REPS`` times
        over (once in traced runs, which do not report it): JVM launch and
        session start, input generation, server start. The last set-up
        stays up for the measured phases."""
        from realtime_datawarehouse_spark import serving_http
        from realtime_datawarehouse_spark.session import build_session

        for _ in range(1 if self.args.trace else SETUP_REPS):
            self.stop()
            shutil.rmtree(os.path.join(self.work, "in"), ignore_errors=True)
            t0 = time.perf_counter()
            self.spark = build_session(extra_conf=self.session_conf())
            self.spark.sparkContext.setLogLevel("ERROR")
            write_tables(self.sf_dir, self.args.seed, self.shape)
            self.server = serving_http.make_server(self.spark, self.sf_dir)
            serving_http.start_background(self.server)
            self.sample("setup_s", time.perf_counter() - t0)

    # -- phase 1: batch warehouse ----------------------------------------------

    def warehouse_pass(self, sf_dir: str, out: str, dates: list[str], tag: str) -> dict:
        """One ODS -> DIM -> DWD -> DWS -> ADS rebuild into ``out``; each
        public call runs under job group ``warehouse.<layer>.<tag>``.
        Returns the ADS gmv per date."""
        from realtime_datawarehouse_spark.plans import warehouse as wh

        calls = (
            ("ods", lambda: wh.build_ods(self.spark, sf_dir, out)),
            ("dim", lambda: wh.build_dim(self.spark, out)),
            ("dwd", lambda: wh.build_dwd(self.spark, sf_dir, out)),
            ("dws", lambda: wh.build_dws(self.spark, out)),
            ("ads", lambda: {d: wh.ads_gmv(self.spark, out, d) for d in dates}),
        )
        for layer, call in calls:
            self.tag(f"warehouse.{layer}.{tag}")
            t = time.perf_counter()
            gmv = call()
            if tag != "warmup":
                self.sample(f"warehouse.{layer}_s", time.perf_counter() - t)
        return gmv

    def warehouse(self) -> None:
        """A warm-up pass over tiny inputs, then ``PASSES`` timed rebuilds
        of the workload's warehouse, each into a fresh dir and checked."""
        import checks

        warm_in = os.path.join(self.work, "warmup", "tables")
        write_tables(warm_in, self.args.seed, TINY)
        t0 = time.perf_counter()
        self.warehouse_pass(warm_in, os.path.join(self.work, "warmup", "out"),
                            order_dates(TINY)[:ADS_DATES], "warmup")
        self.sample("warehouse.warmup_s", time.perf_counter() - t0)

        dates = self.rng.sample(order_dates(self.shape), ADS_DATES)
        for i in range(PASSES):
            out = os.path.join(self.work, f"warehouse-{i}")
            t0 = time.perf_counter()
            gmv = self.warehouse_pass(self.sf_dir, out, dates, str(i))
            self.sample("warehouse_s", time.perf_counter() - t0)
            self.op(True, None)
            for layer in LAYERS[:-1]:
                files = sum(
                    f.endswith(".parquet")
                    for _, _, fs in os.walk(os.path.join(out, layer))
                    for f in fs
                )
                self.sample(f"warehouse.{layer}_files", files)
            self.check(checks.warehouse(self.sf_dir, out, gmv))
            shutil.rmtree(out)

    @staticmethod
    def jvm_proc(name: str) -> str:
        """Contents of ``/proc/<JVM pid>/<name>`` for the session's JVM."""
        from pyspark import SparkContext

        with open(f"/proc/{SparkContext._gateway.proc.pid}/{name}") as f:
            return f.read()

    # -- phase 2: ADS serving over HTTP ----------------------------------------

    def schedule(self) -> list[tuple[float, str, str]]:
        """Seeded open-loop arrivals: (due offset s, route, query string).

        Poisson arrivals conditioned on their count (uniform send times),
        and exact route counts, so every seed offers the same load mix."""
        n = SERVE_RATE * self.args.seconds
        routes = [r for r, w in ROUTES.items() for _ in range(max(1, round(w * n)))]
        self.rng.shuffle(routes)
        times = sorted(self.rng.uniform(0, self.args.seconds) for _ in routes)
        dates = [d.replace("-", "") for d in order_dates(self.shape)]
        out = []
        for t, route in zip(times, routes):
            if route == "similar":
                qs = f"vec_id={self.rng.randrange(self.shape.embeddings)}&k=5"
            else:
                qs = f"date={self.rng.choice(dates)}"
            out.append((t, route, qs))
        return out

    def serve(self) -> None:
        port = self.server.server_address[1]

        def get(route: str, qs: str) -> tuple[int, dict]:
            url = f"http://127.0.0.1:{port}/{route}?{qs}"
            try:
                with urllib.request.urlopen(url, timeout=60) as r:
                    return r.status, json.loads(r.read())
            except urllib.error.HTTPError as e:
                return e.code, {}

        get("gmv", "date=0")  # first request warms the handler path
        plan = self.schedule()
        results: list = [None] * len(plan)
        lock, nxt = threading.Lock(), [0]
        t0 = time.perf_counter()

        def sender() -> None:
            while True:
                with lock:
                    i = nxt[0]
                    nxt[0] += 1
                if i >= len(plan):
                    return
                due, route, qs = plan[i]
                wait = t0 + due - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                sent = time.perf_counter()
                status, body = get(route, qs)
                done = time.perf_counter()
                results[i] = (route, qs, status, body, (done - t0 - due) * 1e3,
                              (sent - t0 - due) * 1e3)

        threads = [threading.Thread(target=sender) for _ in range(len(os.sched_getaffinity(0)))]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        self.spans["serve"] = (t0, time.perf_counter())
        self.sample("serve.requests", len(results))
        self.sample("serve.late_ms_max", max(r[5] for r in results))
        for route in ROUTES:
            xs = [r[4] for r in results if r[0] == route]
            self.sample(f"serve.{route}.p50_ms", statistics.median(xs))
            self.sample(f"serve.{route}.p90_ms", percentile(xs, 90))
        import checks

        for route, qs, status, _, _, _ in results:
            self.op(200 <= status < 300, f"HTTP {status} for /{route}?{qs}")
        self.check(
            checks.serving(
                self.sf_dir,
                [(route, qs.split("=")[1], body) for route, qs, status, body, _, _ in results
                 if route != "similar" and status == 200],
            )
        )

    def serve_direct(self) -> None:
        """Traced runs only: the same routes as direct ``serving`` calls,
        so the gap to the HTTP latency is the frontend's share."""
        from realtime_datawarehouse_spark import serving

        date = order_dates(self.shape)[0].replace("-", "")
        calls = {
            "gmv": lambda: serving.gmv(self.spark, self.sf_dir, date),
            "province": lambda: serving.province_stats(self.spark, self.sf_dir, date),
            "similar": lambda: serving.similar(self.spark, self.sf_dir, 0, k=5),
        }
        for route, call in calls.items():
            self.tag(f"serve.direct.{route}")
            xs = []
            for _ in range(3):
                t = time.perf_counter()
                call()
                xs.append((time.perf_counter() - t) * 1e3)
            self.sample(f"serve.{route}.direct_ms", statistics.median(xs))

    # -- phase 3: registered operator queries ----------------------------------

    def queries(self) -> None:
        from realtime_datawarehouse_spark.plans import registry

        qs, rows = registry.get_queries(), {}
        total = 0.0
        for name in QUERIES:
            self.tag(f"query.{name}.build")
            t = time.perf_counter()
            df = qs[name](self.spark, self.sf_dir)
            built = time.perf_counter()
            self.tag(f"query.{name}.exec")
            rows[name] = df.toPandas()  # results are a few rows: ~ the noop-sink cost
            done = time.perf_counter()
            self.sample(f"query.{name}.build_s", built - t)
            self.sample(f"query.{name}.exec_s", done - built)
            total += done - t
            self.op(True, None)
        self.sample("queries_s", total)
        import checks

        oracles = registry.get_oracles()
        self.check(checks.queries(self.sf_dir, rows, {n: oracles[n] for n in QUERIES}))

    # -- orchestration -----------------------------------------------------------

    def measure(self) -> None:
        self.warehouse()
        if self.args.trace:  # per-layer only: see perfbench/README.md
            self.queries()
            self.serve()
            self.serve_direct()

    def metrics(self) -> dict[str, dict]:
        import eventlog

        med = {k: statistics.median(v) for k, v in self.samples.items()}
        hwm = next(ln for ln in self.jvm_proc("status").splitlines() if ln.startswith("VmHWM"))
        med["jvm_peak_rss_mb"] = int(hwm.split()[1]) / 1024
        self.stop()  # flushes the event log
        log = eventlog.summarize(os.path.join(self.work, "eventlog"))
        groups = log["groups"]
        zero = {"tasks": 0, "cpu_s": 0.0, "shuffle_mb": 0.0, "jobs": 0}

        def per_pass(layer: str, k: str) -> list[float]:
            return [groups.get(f"warehouse.{layer}.{i}", zero)[k] for i in range(PASSES)]

        for layer in LAYERS:
            for k in ("tasks", "cpu_s", "shuffle_mb"):
                med[f"warehouse.{layer}_{k}"] = statistics.median(per_pass(layer, k))
        med["warehouse_cpu_s"] = statistics.median(
            map(sum, zip(*(per_pass(layer, "cpu_s") for layer in LAYERS)))
        )
        if not self.args.trace:
            return {k: {"value": med[k], "unit": u} for k, u in E2E_UNITS.items()}
        for q in QUERIES:
            build = groups.get(f"query.{q}.build", zero)
            run = groups.get(f"query.{q}.exec", zero)
            med[f"query.{q}.build_jobs"] = build["jobs"]
            med[f"query.{q}.cpu_s"] = build["cpu_s"] + run["cpu_s"]
            med[f"query.{q}.shuffle_mb"] = build["shuffle_mb"] + run["shuffle_mb"]
        lo, hi = self.spans["serve"]
        epoch = time.time() - time.perf_counter()  # perf_counter -> epoch s
        jobs = sum(lo + epoch <= t / 1e3 <= hi + epoch for t in log["job_times"])
        med["serve.jobs_per_request"] = jobs / med["serve.requests"]
        return {k: {"value": med[k], "unit": u} for k, u in per_layer_units().items()}


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that does not exit is killed
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "realtime_datawarehouse_spark")):
        print(f"perfbench: no realtime_datawarehouse_spark package in {ROOT}", file=sys.stderr)
        return 2

    run = Run(args)
    os.makedirs(os.path.join(run.work, "tmp"), exist_ok=True)
    # every file Spark, the JVM and Python write stays inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.work, "local")
    os.environ["TMPDIR"] = os.path.join(run.work, "tmp")
    # local[n] with half the cores: the JVM's JIT and GC threads and the
    # Python driver keep the rest, so other load on the host slows a run less
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.makedirs(os.path.join(run.work, "eventlog"))
    try:
        run.setup()
        run.measure()
        metrics = run.metrics()
    finally:
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.work))
        except OSError:
            pass  # another run still uses it
    for msg in run.failures:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not run.failures,
                "attempted": run.attempted,
                "failed": len(run.failures),
                "metrics": metrics,
            }
        )
    )
    return 1 if run.failures else 0


if __name__ == "__main__":
    sys.exit(main())
