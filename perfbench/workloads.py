"""The benchmark workloads and the harness that runs one.

Each workload has a set-up step (inputs ready plus an untimed warm-up
of every operation it times), a timed section of whole passes, and an
output check for every timed operation. ``Bench.run`` drives one
workload end to end and returns the result object ``run.py`` prints.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import resource
import statistics
import sys
import time
import traceback

from perfbench import inputs

FORMATS = ("csv", "json", "xml", "html")
QUERY_NAMES = (
    "minhash_dedup_survivors",
    "phash_near_dup_pairs",
    "gopher_quality_signals",
    "jpeg_decode_stats",
)
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _read(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def _canon(v):
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    return v


def rowset(cols, rows) -> list[tuple]:
    """Order- and column-order-insensitive canonical form of a result
    (the canonicalisation the engine's oracle tests use)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((v is None, str(type(v)), v if v is not None else 0) for v in t),
    )


def digest(cols, rows) -> str:
    return hashlib.sha256(repr(rowset(cols, rows)).encode()).hexdigest()


def duck():
    import duckdb

    con = duckdb.connect()
    con.sql("SET enable_progress_bar = false")
    return con


def n_passes(seconds: float, nominal_pass_s: float) -> int:
    """Whole passes that fill ``seconds`` at the nominal pass time
    (measured on a 4-core host): the work per run is fixed by the run
    length, not by how fast the host happens to be."""
    return max(1, math.ceil(seconds / nominal_pass_s))


def latency_metrics(lat: list[float]) -> dict:
    return {
        "op_p50_ms": (statistics.median(lat) * 1e3, "ms"),
        "op_p75_ms": (statistics.quantiles(lat, n=4, method="inclusive")[-1] * 1e3, "ms"),
    }


class Bench:
    """One run of one workload: session lifecycle, timed operations,
    failure counting, and the result object."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, state_dir: str, t_start: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.data_dir = f"{work}/data"
        self.out_dir = f"{work}/out"
        self.state_dir = state_dir
        self.t_start = t_start
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.get_spark_s = 0.0
        os.makedirs(self.out_dir, exist_ok=True)

    # -- session ---------------------------------------------------------
    def start_session(self) -> None:
        from exporter_spark import session

        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        self.get_spark_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        """Stop the session and the JVM this process launched, and wait
        for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway  # noqa: SLF001
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        with contextlib.suppress(Exception):
            gw.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — must not leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001

    # -- timed operations ------------------------------------------------
    def op(self, name: str, fn):
        """Run one timed operation, tagged with its name as the Spark
        job description; returns ``(result, seconds, ok)``. A raised
        exception counts as a failed operation."""
        sc = self.spark.sparkContext
        sc.setJobDescription(f"perfbench {self.workload}: {name}")
        self.attempted += 1
        ctx = self.tracer.op(name) if self.tracer else contextlib.nullcontext()
        t0 = time.perf_counter()
        try:
            with ctx:
                result = fn()
        except Exception:  # noqa: BLE001 — counted and reported, run continues
            self.failed += 1
            log(f"operation {name} raised:\n{traceback.format_exc()}")
            return None, time.perf_counter() - t0, False
        finally:
            sc.setJobDescription(None)
        return result, time.perf_counter() - t0, True

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            log(f"output check failed: {what}")

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else contextlib.nullcontext()

    # -- the run ---------------------------------------------------------
    def run(self) -> dict:
        wl = WORKLOADS[self.workload](self)
        wl.make_inputs()
        self.start_session()
        log(f"session ready: {time.perf_counter() - self.t_start:.3f}s")
        wl.prepare()
        setup_s = time.perf_counter() - self.t_start
        log(f"set-up: {setup_s:.3f}s")
        restore = None
        if self.trace:
            from perfbench import tracing

            self.tracer = tracing.Tracer(self.spark)
            restore = tracing.install(self.tracer)
        try:
            e2e = wl.measure()
        finally:
            if restore is not None:
                restore()
        wl.final_checks()
        host = self.host_context()
        metrics = {"setup_s": (setup_s, "s"), **e2e}
        per_layer = self.per_layer(wl, metrics) if self.trace else None
        self.record(host, metrics, per_layer)
        chosen = per_layer if self.trace else metrics
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
        }

    def host_context(self) -> dict:
        """Host load, recorded beside the numbers and outside them."""
        from exporter_spark.benchlib import cpu_canary

        host = {
            "nproc": len(os.sched_getaffinity(0)),
            "cpu_canary_s": cpu_canary(self.spark, 1),
        }
        log(f"host context: {json.dumps(host)}")
        return host

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the Python driver plus the JVM."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
        with open(f"/proc/{jvm_pid}/status") as fh:
            jvm_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
        return (py_kb + jvm_kb) / 1024.0

    def per_layer(self, wl, metrics) -> dict:
        from perfbench import tracing

        tr = self.tracer
        n_ops = max(1, len(tr.op_windows))
        splices = tr.counts["fsio.splice_calls"]
        cc = getattr(wl, "cc", {})
        out = {"session.get_spark_s": (self.get_spark_s, "s")}
        out.update({f"{name}_s": (tr.mean_duration(name), "s") for name in SPAN_METRICS})
        out.update({
            "fsio.spliced_bytes": (tr.counts["fsio.spliced_bytes"] / splices if splices else 0.0, "B"),
            "operators.partitioning.spread_calls": (
                tr.counts["operators.partitioning.spread_calls"] / n_ops, "count"),
            "operators.cc_edges": (cc.get("n_edges", 0), "count"),
            "operators.cc_rounds": (cc.get("rounds", 0), "count"),
        })
        for k, v in tracing.spark_counters(self.spark, tr.op_windows).items():
            out[k] = (v, "s" if k.endswith("_s") else "B" if k.endswith("_bytes") else "count")
        out.update({f"self.{layer}_s": (s, "s") for layer, s in tr.self_times().items()})
        out["wall_s"] = (tr.root_wall(), "s")
        out["trace.overhead_s"] = (tr.overhead_s, "s")
        out["failed_frac"] = (self.failed / max(1, self.attempted), "ratio")
        out["peak_rss_mb"] = (self.peak_rss_mb(), "MB")
        out.update({f"traced.{k}": vu for k, vu in metrics.items() if k != "setup_s"})
        return out

    def record(self, host, metrics, per_layer) -> None:
        """Append this run's host context and numbers to the run log,
        and write a traced run's spans."""
        os.makedirs(self.state_dir, exist_ok=True)
        rec = {
            "workload": self.workload, "seed": self.seed, "trace": self.trace,
            "host": host, "attempted": self.attempted, "failed": self.failed,
            "metrics": {k: v for k, (v, _) in (per_layer or metrics).items()},
        }
        if per_layer is not None:
            with open(f"{self.state_dir}/trace-{self.workload}-{self.seed}.json", "w") as fh:
                json.dump({"host": host, "spans": self.tracer.dump()}, fh)
        with open(f"{self.state_dir}/runs.jsonl", "a") as fh:
            fh.write(json.dumps(rec) + "\n")


# Spans reported as mean seconds per call in a traced run.
SPAN_METRICS = (
    "sources.load_table",
    "sources.from_jdbc",
    "plans.compile",
    "functions.display_columns",
    *(f"formatters.{fmt}.write" for fmt in FORMATS),
    "formatters.iter_chunks",
    "formatters.write_single_part",
    "fsio.splice_parts",
    "exporter.write_file",
    "exporter.write_single_part",
    "queries.build",
    *(f"operators.{q}" for q in QUERY_NAMES),
    "operators.dedup.connected_components",
)


class SmallExports:
    """A closed loop of one client sending small filtered exports of a
    JDBC table through the fidelity path and write_single_part: the
    per-call fixed costs of the reference's own traffic."""

    NOMINAL_BLOCK_S = 2.5

    def __init__(self, bench: Bench):
        self.b = bench
        self.derby_home = f"{bench.work}/derby"
        self.digests: list[str] = []

    def schedule(self, per_key: dict, n_blocks: int) -> list[list[dict]]:
        """Seeded request stream in blocks of eight: every format twice,
        two seed-drawn formats of each block through write_single_part,
        in seeded order. Each request filters on one seed-drawn customer
        key; about a third carry a seed-drawn limit no larger than that
        key's order count."""
        import numpy as np

        rng = np.random.default_rng([self.b.seed, 4])
        keys = sorted(per_key)
        blocks = []
        for _ in range(n_blocks):
            single = {FORMATS[i] for i in rng.choice(len(FORMATS), 2, replace=False)}
            kinds = [(f, f in single) for f in FORMATS] + [(f, False) for f in FORMATS]
            reqs = []
            for i in rng.permutation(len(kinds)):
                fmt, one = kinds[i]
                key = int(keys[int(rng.integers(0, len(keys)))])
                limit = int(rng.integers(1, per_key[key] + 1)) if rng.random() < 1 / 3 else -1
                reqs.append({"fmt": fmt, "single": one, "key": key, "limit": limit})
            blocks.append(reqs)
        return blocks

    def request(self, r: dict, path: str) -> None:
        from pyspark.sql import functions as F

        from exporter_spark import Exporter, ExportSpec
        from exporter_spark.sources import jdbc

        df = jdbc.from_jdbc(self.b.spark, self.url, table="ORDERS", driver=DERBY_DRIVER)
        spec = (
            ExportSpec()
            .with_filter(F.col("o_custkey") == r["key"])
            .with_order_by("o_orderkey")
        )
        if r["limit"] >= 0:
            spec = spec.with_limit(r["limit"])
        ex = Exporter(df, r["fmt"], spec)
        if r["single"]:
            ex.write_single_part(path)
        else:
            ex.write_file(path)

    @staticmethod
    def count_records(r: dict, data: bytes) -> int:
        fmt = r["fmt"]
        if fmt == "csv":
            return data.count(b"\n") - 1  # header line
        if fmt == "json":  # NDJSON parts vs one array document
            return data.count(b"\n") if r["single"] else data.count(b"\n{")
        return data.count(b"<row>" if fmt == "xml" else b"<tr><td>")

    def make_inputs(self) -> None:
        self.csv_path = inputs.write_orders_csv(f"{self.b.data_dir}/orders.csv")

    def prepare(self) -> None:
        jvm = self.b.spark._jvm  # noqa: SLF001
        jvm.java.lang.System.setProperty("derby.system.home", self.derby_home)
        jvm.java.lang.System.setProperty("derby.stream.error.file", f"{self.derby_home}/derby.log")
        self.url = f"jdbc:derby:{self.derby_home}/db"
        conn = jvm.java.sql.DriverManager.getConnection(self.url + ";create=true")
        try:
            st = conn.createStatement()
            st.execute(
                'CREATE TABLE ORDERS ("o_orderkey" BIGINT, "o_custkey" BIGINT,'
                ' "o_orderstatus" VARCHAR(1), "o_totalprice" DOUBLE,'
                ' "o_orderdate" TIMESTAMP, "o_orderpriority" VARCHAR(16))'
            )
            st.execute(
                "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE"
                f"(NULL, 'ORDERS', '{self.csv_path}', NULL, NULL, NULL, 0)"
            )
            st.close()
        finally:
            conn.close()
        log("inputs ready")
        for fmt in FORMATS:  # warm-up: both paths of every format, untimed
            for single in (False, True):
                r = {"fmt": fmt, "single": single, "key": 0, "limit": -1}
                t0 = time.perf_counter()
                self.request(r, f"{self.b.out_dir}/warm.{fmt}")
                log(f"warm-up {fmt} single={single}: {time.perf_counter() - t0:.3f}s")

    @staticmethod
    def expected(r: dict, per_key: dict) -> int:
        n = per_key[r["key"]]
        return min(n, r["limit"]) if r["limit"] >= 0 else n

    def measure(self) -> dict:
        con = duck()
        per_key = dict(con.sql(
            f"SELECT o_custkey, count(*) FROM '{inputs.ORDERS}' GROUP BY 1").fetchall())
        blocks = self.schedule(per_key, n_passes(self.b.seconds, self.NOMINAL_BLOCK_S))
        self.key = f"{self.b.seed}:" + hashlib.sha256(
            json.dumps(blocks).encode()).hexdigest()[:16]
        self.done: list[dict] = []
        lat: list[float] = []

        def one_block(block: list[dict]) -> float:
            wall = 0.0
            for r in block:
                i = len(self.done)
                path = f"{self.b.out_dir}/req{i}.{r['fmt']}"
                _, dt, ok = self.b.op("request", lambda: self.request(r, path))
                self.done.append(r)
                wall += dt
                if not ok:
                    self.digests.append("")
                    continue
                lat.append(dt)
                data = _read(path)
                os.remove(path)
                self.digests.append(hashlib.sha256(data).hexdigest())
                n, want = self.count_records(r, data), self.expected(r, per_key)
                self.b.check(n == want, f"request {i} {r}: {n} records, expected {want}")
            return wall

        walls = [one_block(b) for b in blocks]
        log(f"small_exports: {len(self.done)} requests in {sum(walls):.3f}s")
        return {"throughput_per_s": (len(lat) / sum(lat), "1/s"), **latency_metrics(lat)}

    def final_checks(self) -> None:
        """Digests must repeat: replay the first write_file and the
        first write_single_part request, and compare with earlier runs
        of the same seed and request stream."""
        firsts: dict[bool, int] = {}
        for i, r in enumerate(self.done):
            firsts.setdefault(r["single"], i)
        for i in firsts.values():
            path = f"{self.b.out_dir}/replay{i}.{self.done[i]['fmt']}"
            try:
                self.request(self.done[i], path)
                again = hashlib.sha256(_read(path)).hexdigest()
            except Exception:  # noqa: BLE001 — a failed replay is a failed check
                log(traceback.format_exc())
                again = None
            self.b.check(again == self.digests[i], f"request {i} replay digest differs")
        state = f"{self.b.state_dir}/small_exports-digests.json"
        seen = {}
        if os.path.exists(state):
            with open(state) as fh:
                seen = json.load(fh)
        prior = seen.get(self.key, [])
        for i, (a, b) in enumerate(zip(prior, self.digests)):
            if a and b:
                self.b.check(a == b, f"request {i} digest differs from an earlier run of this seed")
        if len(self.digests) > len(prior):
            seen[self.key] = self.digests
            with open(state, "w") as fh:
                json.dump(seen, fh)


class Curation:
    """The four registry curation queries on the sf0.1 documents corpus:
    shuffles and joins, the connected-components driver loop, the
    Arrow-to-Python lane and the JVM Gopher kernel."""

    NOMINAL_PASS_S = 12.0

    def __init__(self, bench: Bench):
        self.b = bench
        self.cc: dict = {}

    def make_inputs(self) -> None:
        self.path, self.docs = inputs.shuffled_documents(self.b.seed, self.b.data_dir)
        with open(inputs.ORACLE_DIGESTS) as fh:
            self.reference = json.load(fh)

    def prepare(self) -> None:
        log("inputs ready")
        for q in QUERY_NAMES:  # warm-up pass on the sf0.01 corpus, untimed
            t0 = time.perf_counter()
            self.run_query(q, os.path.dirname(inputs.WARM_DOCUMENTS))
            log(f"warm-up {q}: {time.perf_counter() - t0:.3f}s")

    def run_query(self, q: str, sf_dir: str):
        from exporter_spark.operators.partitioning import cache_scope
        from exporter_spark.queries import QUERIES

        with self.b.span(f"operators.{q}", "operators"), cache_scope():
            with self.b.span("queries.build", "queries"):
                if q == "minhash_dedup_survivors":
                    self.cc = {}
                    df = QUERIES[q].fn(self.b.spark, sf_dir, stats=self.cc)
                else:
                    df = QUERIES[q].fn(self.b.spark, sf_dir)
            return df.columns, df.collect()

    def measure(self) -> dict:
        lat: list[float] = []
        self.results: list[tuple] = []

        def one_pass() -> float:
            wall = 0.0
            for q in QUERY_NAMES:
                res, dt, ok = self.b.op(q, lambda: self.run_query(q, self.b.data_dir))
                wall += dt
                if ok:
                    lat.append(dt)
                    self.results.append((q, *res))
                log(f"{q}: {dt:.3f}s")
            return wall

        walls = [one_pass() for _ in range(n_passes(self.b.seconds, self.NOMINAL_PASS_S))]
        log(f"curation passes: {[round(w, 3) for w in walls]}")
        return {
            "throughput_per_s": (self.docs * len(walls) / sum(walls), "1/s"),
            **latency_metrics(lat),
        }

    def final_checks(self) -> None:
        """Every timed result against the digest of the registry's DuckDB
        oracle answer, pinned by ``pin_oracle.py``. Results are compared
        as row sets, so the seeded row order leaves the digest alone."""
        for q, cols, rows in self.results:
            self.b.check(digest(cols, rows) == self.reference.get(q),
                         f"{q}: result differs from the DuckDB oracle")


WORKLOADS = {"small_exports": SmallExports, "curation": Curation}
