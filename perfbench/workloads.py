"""The workloads, run against the program's own public functions.

- ``nightly_etl``: the nightly batch ETL through the production path, in a
  fresh process as the nightly job runs, then the morning's report
  traffic: a closed loop of ``CLIENTS`` threads, result cache off,
  against the gold the ETL just wrote.
- ``ingest_and_serve``: per-day stream ingest of a landed log file (plus
  late lines for the day before), cache invalidation, then a burst of
  report requests with the result cache on, against the facts the stream
  wrote.

Each workload ingests logs (batch or stream), writes gold and serves
report requests, so each reports every end-to-end metric; what differs
is which layers dominate. Uncached report traffic runs after the batch
ETL in the same run rather than as a workload of its own: a separate one
would have to rebuild gold with the ETL in every set-up, and the ETL's
fixed cost (about 30 s cold on 4 cores) times the set-up repetitions
does not fit the benchmark's time budget.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import resource
import shutil
import sys
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field, replace

import expect
import gen
from stats import Tally, median, min_samples, percentile

CLIENTS = 4  # one report page's AJAX queue, capped at the cores
SETUP_REPS = 3
ROUNDS = 3  # nightly_etl: rounds of the request mix served after the ETL
RESPONSE_CHECKS = 24  # distinct responses checked per run

SETUP_DAYS = 1  # ingest_and_serve streams this many days during set-up
MIN_CYCLES = 2  # ingest_and_serve cycles per measurement, and all a traced one runs
MAX_CYCLES = 4  # ingest_and_serve cycles an untraced measurement may run within its seconds
BURST_ROUNDS = 3  # ingest_and_serve rounds of the mix per cycle: repeat loads hit the cache

ESCHEMA = (
    "eprintid int, eprint_status string, datestamp timestamp, lastmod timestamp, "
    "type string, divisions array<string>, subjects array<string>, "
    "creators array<struct<name:struct<family:string,given:string>,id:string>>, "
    "full_text_status string"
)
DSCHEMA = "docid int, eprintid int, format string, is_public boolean"
SSCHEMA = "subjectid string, parent string, can_post boolean, name string"


@dataclass
class Req:
    """One report request and what its response is checked against."""

    kind: str
    endpoint: str  # get | export | browse | fp_stats
    uri: str = "/cgi/stats/report"
    params: dict = field(default_factory=dict)
    set_name: str | None = None
    set_value: str | None = None
    datatype: str = "downloads"
    expect: str | None = None  # fp_stats: expected full-text count

    def key(self) -> tuple:
        return (self.endpoint, self.uri, tuple(sorted(self.params.items())))


class Run:
    """State of one benchmark run: session, inputs, counters."""

    def __init__(self, work: str, seed: int, seconds: float):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.cpus = min(os.cpu_count() or 1, CLIENTS)
        self.spark = None
        self.tracer = None
        self.tally = Tally()
        self.log_path = os.path.join(work, "driver.log")
        self.info: dict = {}

    # -- session ---------------------------------------------------------

    def new_session(self):
        """Stop the current session and start a fresh one. The first call
        launches the JVM with its stderr sent to the driver log."""
        from irstats2_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # -Xms (= the 1g maximum set below): a heap that does not
            # resize keeps peak RSS steady from run to run;
            # -XX:-UsePerfData: no hsperfdata file outside the work dir
            "spark.driver.extraJavaOptions": (
                f"-Xms1g -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        from pyspark import SparkContext

        first = SparkContext._gateway is None
        if first:
            os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
            # fewer glibc arenas in the JVM: its native allocations (parquet,
            # netty) otherwise make peak RSS vary run to run
            os.environ["MALLOC_ARENA_MAX"] = "2"
            os.environ["SPARK_LOCAL_DIRS"] = tmp
            os.environ["TMPDIR"] = tmp
            saved = os.dup(2)
            log_fd = os.open(self.log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
            os.dup2(log_fd, 2)
        try:
            self.spark = get_spark(
                "perfbench", cpus=self.cpus, shuffle_partitions=self.cpus, extra_conf=conf
            )
        finally:
            if first:
                os.dup2(saved, 2)
                os.close(saved)
                os.close(log_fd)
        self.spark.sparkContext.setLogLevel("WARN")
        if self.tracer is not None:
            self.tracer.spark = self.spark
        return self.spark

    def shutdown(self) -> None:
        """Stop Spark and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def peak_rss_mb(self) -> float:
        """Peak RSS of the driver JVM plus this process."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            hwm_kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
        return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0

    def calibrate(self) -> float:
        """Seconds for a fixed CPU-bound Spark job, best of three."""
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            self.spark.range(8_000_000).selectExpr("sum(id * 3 + 1)").collect()
            e = time.perf_counter() - t0
            best = e if best is None else min(best, e)
        return best


# -- program steps -------------------------------------------------------------


@dataclass
class Meta:
    eprints: object
    documents: object
    subjects: object


def load_meta(spark, inroot: str) -> Meta:
    return Meta(
        spark.read.schema(ESCHEMA).json(os.path.join(inroot, "eprints.jsonl")),
        spark.read.schema(DSCHEMA).json(os.path.join(inroot, "documents.jsonl")),
        spark.read.schema(SSCHEMA).json(os.path.join(inroot, "subjects.jsonl")),
    )


def write_dims(run: Run, dims: dict, eprints, gold: str) -> None:
    """Dimensions and the eprints table as plain parquet beside the facts."""
    with run.tracer.span("storage.write", job_group=True) if run.tracer else nullcontext():
        for name in ("sets", "groupings", "rendered"):
            dims[name].write.mode("overwrite").parquet(os.path.join(gold, f"dim_{name}"))
        eprints.write.mode("overwrite").parquet(os.path.join(gold, "eprints"))


def open_gold(spark, gold: str, datatypes: list[str]):
    """A StatsStore over gold parquet on disk."""
    from irstats2_spark.plans.builder import StatsStore
    from irstats2_spark.sources import storage

    def dim(name):
        p = os.path.join(gold, f"dim_{name}")
        return spark.read.parquet(p) if os.path.isdir(p) else None

    return StatsStore(
        facts={d: storage.read_fact(spark, gold, d) for d in datatypes},
        sets=dim("sets"),
        groupings=dim("groupings"),
        rendered=dim("rendered"),
        eprints=spark.read.parquet(os.path.join(gold, "eprints")),
    )


def fact_datatypes(gold: str) -> list[str]:
    return sorted(n[5:] for n in os.listdir(gold) if n.startswith("fact_"))


def run_etl(run: Run, inroot: str, gold: str, cache, today: dt.date, last_day: int) -> dict:
    """The nightly production path: read_access_logs -> build_silver_events
    -> build_store -> write_fact per datatype -> build_dimensions ->
    ResultCache.clear + prewarm_report. Returns wall times from the start:
    ``readable_s`` when the last day's facts read back, ``etl_s`` at the
    end of the pre-warm."""
    from irstats2_spark.etl import pipeline, sets
    from irstats2_spark.plans import registry, report
    from irstats2_spark.sources import access_log, storage
    from pyspark.sql import functions as F

    spark = run.spark
    shutil.rmtree(gold, ignore_errors=True)
    t0 = time.perf_counter()
    meta = load_meta(spark, inroot)
    events = access_log.read_access_logs(spark, os.path.join(inroot, "logs", "*.log.gz"))
    silver = pipeline.build_silver_events(events)
    store = pipeline.build_store(
        silver,
        eprints=meta.eprints,
        documents=meta.documents,
        subjects=meta.subjects,
        host=gen.HOST,
        base_url=gen.HOST,
        with_dimensions=False,
    )
    for name, df in store.facts.items():
        storage.write_fact(df, gold, name)
    dims = sets.build_dimensions(meta.eprints, subjects=meta.subjects)
    write_dims(run, dims, meta.eprints, gold)
    spark.catalog.clearCache()
    served = open_gold(spark, gold, fact_datatypes(gold))
    served.facts["downloads"].filter(F.col("datestamp") == last_day).count()
    t_readable = time.perf_counter()
    cache.clear()
    report.prewarm_report(spark, served, registry.default_registry(), cache, "main", today=today)
    t_end = time.perf_counter()
    return {"etl_s": t_end - t0, "readable_s": t_readable - t0, "store": served}


# -- requests ------------------------------------------------------------------


def _zipf_pick(rng: random.Random, items: list):
    weights = [1.0 / (r ** gen.ZIPF_S) for r in range(1, len(items) + 1)]
    return rng.choices(items, weights)[0]


def _get_kind(p: dict) -> str:
    """The response check a /cgi/stats/get request needs."""
    if p["view"] == "Graph":
        return "graph_days" if "from" in p else "graph_month"
    if p["view"] == "Table":
        top = p.get("top", "eprint")
        return "table_eprint" if top == "eprint" else "table_value" if top == p["datatype"] else "table_grouping"
    return p["view"].lower()


class RequestMix:
    """Seeded page loads, each sending one request per panel of the page:

    - ``main``, the repository-wide report: the program's default ``main``
      report (``registry.DEFAULT_REPORTS``), one /cgi/stats/get request per
      item whose datatype the store has. Its KeyFigures item is left out:
      the report page computes it while rendering (Report.pm:141-172), not
      through /cgi/stats/get.
    - ``eprint``, an eprint's abstract page and report: a day-range Graph,
      the abstract page's Spark line, and a CSV export.
    - ``set``, a division's or subject's report and browse page: Counter,
      top authors within the set (a grouping join), a JSON export, and the
      browse page's graph.
    - ``front``, the repository home page: its fp_stats counters.

    The program defines no eprint, set or home page report, so the panels
    of those pages are an assumption of this benchmark.

    A round loads each page once, in that order, with the eprint and set
    drawn by Zipf popularity: every run sends the same sequence of
    request kinds and only the eprints and sets they ask for vary with the
    seed, so which requests overlap, and with it the latency percentiles,
    does not vary from run to run."""

    def __init__(self, inp: gen.Inputs, seed: int, datatypes: set[str], days: list[int]):
        from irstats2_spark.plans.registry import DEFAULT_REPORTS

        self.rng = random.Random(seed)
        self.eprints = list(range(1, inp.spec.eprints + 1))
        random.Random(seed + 1).shuffle(self.eprints)
        divs = sorted({d for e in inp.eprints for d in e["divisions"]})
        subs = sorted({s for e in inp.eprints for s in e["subjects"]})
        self.sets = [("divisions", d) for d in divs] + [("subjects", s) for s in subs]
        random.Random(seed + 3).shuffle(self.sets)
        self.days = days
        self.full_texts = f"{sum(e['full_text_status'] in ('public', 'restricted') for e in inp.eprints):,}"
        self.main = [
            {"view": item.plugin, "datatype": item.datatype, **item.options}
            for item in DEFAULT_REPORTS["main"].items
            if item.plugin != "KeyFigures" and item.datatype in datatypes
        ]
        self.round: list[Req] = []
        self.rounds = 0  # rounds started

    def next(self) -> Req:
        if not self.round:
            self.round = list(reversed(self.page_loads()))
            self.rounds += 1
        return self.round.pop()

    def page_loads(self) -> list[Req]:
        """One round: the requests of one load of each page."""
        rng = self.rng
        epid = str(_zipf_pick(rng, self.eprints))
        sname, sval = _zipf_pick(rng, self.sets)
        span = min(7, len(self.days))
        lo = rng.randrange(len(self.days) - span + 1)
        eprint_uri = f"/cgi/stats/report/eprint/{epid}"
        set_uri = f"/cgi/stats/report/{sname}/{sval}"
        return [
            *(Req(_get_kind(p), "get", params=p, datatype=p["datatype"]) for p in self.main),
            Req("graph_days", "get", eprint_uri,
                {"view": "Graph", "datatype": "downloads", "from": str(self.days[lo]),
                 "to": str(self.days[lo + span - 1])}, "eprint", epid),
            Req("spark", "get", eprint_uri, {"view": "Spark", "datatype": "views"}, "eprint", epid, "views"),
            Req("export_csv", "export", f"/cgi/stats/export/eprint/{epid}/CSV",
                {"datatype": "downloads"}, "eprint", epid),
            Req("counter", "get", set_uri, {"view": "Counter", "datatype": "downloads"}, sname, sval),
            Req("table_grouping", "get", set_uri,
                {"view": "Table", "top": "authors", "datatype": "downloads"}, sname, sval),
            Req("export_json", "export", f"/cgi/stats/export/{sname}/{sval}/JSON",
                {"datatype": "views"}, sname, sval, "views"),
            Req("browse", "browse", params={"referer": f"http://{gen.HOST}/view/{sname}/{sval}.html"},
                set_name=sname, set_value=sval),
            Req("fp_stats", "fp_stats", expect=self.full_texts),
        ]


def serve_one(run: Run, store, req: Req, cache, today: dt.date) -> tuple[int, str]:
    from irstats2_spark.plans import http

    if req.endpoint == "get":
        status, _, body = http.handle_get(run.spark, store, req.uri, req.params, cache=cache, today=today)
    elif req.endpoint == "export":
        status, _, body = http.handle_export(run.spark, store, req.uri, req.params, today=today)
    elif req.endpoint == "browse":
        status, _, body = http.handle_browse(run.spark, store, req.params["referer"], today=today)
    else:
        status, _, body = http.handle_fp_stats(run.spark, store, today=today)
    return status, body


@dataclass
class Served:
    latencies: list[float] = field(default_factory=list)  # seconds
    wall: float = 0.0
    sampled: dict = field(default_factory=dict)  # req key -> (op id, req, body)
    kinds: list = field(default_factory=list)  # (kind, start, latency) per request


def serve(run: Run, store, mix: RequestMix, cache, today: dt.date, rounds: int,
          deadline: float = 0.0) -> Served:
    """Closed loop: ``CLIENTS`` threads, zero think time, each sending its
    next request when the previous one returns. Stops at the first end of
    a round of the mix after at least ``rounds`` rounds and ``deadline``;
    whole rounds keep the mix of kinds the same in every run."""
    out = Served()
    lock = threading.Lock()
    at_least = mix.rounds + rounds

    def take():
        with lock:
            if not mix.round and mix.rounds >= at_least and time.perf_counter() >= deadline:
                return None
            return mix.next(), run.tally.attempt()

    def client():
        while (job := take()) is not None:
            req, op = job
            t0 = time.perf_counter()
            try:
                span = run.tracer.span("request", req=f"r{op}", job_group=True) if run.tracer else nullcontext()
                with span:
                    status, body = serve_one(run, store, req, cache, today)
            except Exception as e:  # a failed request is counted, not fatal
                with lock:
                    run.tally.fail(op, f"{req.kind}: {type(e).__name__}: {e}"[:300])
                continue
            lat = time.perf_counter() - t0
            with lock:
                out.latencies.append(lat)
                out.kinds.append((req.kind, round(t0, 3), round(lat, 4)))
                if status != 200:
                    run.tally.fail(op, f"{req.kind}: status {status}")
                elif len(out.sampled) < RESPONSE_CHECKS and req.key() not in out.sampled:
                    out.sampled[req.key()] = (op, req, body)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client, daemon=True) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    out.wall += time.perf_counter() - t0
    log(f"served {len(out.latencies)} requests in {out.wall:.2f} s")
    return out


def check_responses(run: Run, served: Served, fact_root: str, dim_root: str,
                    datatypes: list[str], today: dt.date, limit: int = RESPONSE_CHECKS) -> None:
    oracle = expect.GoldOracle(fact_root, dim_root, datatypes, today)
    try:
        for op, req, body in list(served.sampled.values())[:limit]:
            for why in oracle.check(req, body):
                run.tally.fail(op, why)
    finally:
        oracle.close()


def request_metrics(served: Served) -> dict:
    """p50, throughput, and p90 when enough requests were served to keep
    ``MIN_BEYOND`` samples beyond it (None otherwise)."""
    lat_ms = [x * 1000 for x in served.latencies]
    return {
        "req_p50_ms": median(lat_ms),
        "req_p90_ms": percentile(lat_ms, 90) if len(lat_ms) >= min_samples(90) else None,
        "req_per_s": len(lat_ms) / served.wall,
        "req_samples": len(lat_ms),
    }


def gold_bytes(gold: str) -> tuple[int, int]:
    """(data files, bytes) under ``gold``, parquet part files only."""
    files = size = 0
    for dirpath, _, names in os.walk(gold):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def log(msg: str) -> None:
    print(f"# {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _day_date(day: int) -> dt.date:
    return dt.date(day // 10000, day // 100 % 100, day % 100)


# -- workloads -----------------------------------------------------------------


def _lines(inp: gen.Inputs, day: int) -> int:
    """Lines landing with ``day``: its log plus the late lines of the
    day before."""
    keys = inp.day_keys()
    i = keys.index(day)
    return len(inp.day_lines[day]) + (len(inp.late_lines.get(keys[i - 1], [])) if i else 0)


class Workload:
    """``prepare`` runs once; ``setup_once`` runs in a fresh session
    SETUP_REPS times; ``measure`` then runs for the run's seconds and
    returns the end-to-end metrics. A traced run calls
    ``measure(**traced_args)`` a second time."""

    spec: gen.Spec
    traced_args: dict = {}

    def __init__(self, run: Run, inp: gen.Inputs, inroot: str):
        from irstats2_spark.plans.report import ResultCache

        self.run, self.inp, self.inroot = run, inp, inroot
        self.days = inp.day_keys()
        self.today = _day_date(self.days[-1]) + dt.timedelta(days=1)
        self.lines = sum(len(v) for v in inp.day_lines.values())
        self.gold = os.path.join(run.work, "gold")
        self.cache = ResultCache(os.path.join(run.work, "cache"))

    def prepare(self) -> None:
        pass

    def warm_etl_s(self, base: dict) -> float:
        """Untraced wall time of the ingest operation with the process as
        warm as in the traced measurement that follows."""
        return base["etl_s"]


class NightlyEtl(Workload):
    """The nightly batch ETL, then the morning's report traffic: a closed
    loop of ``CLIENTS`` threads, result cache off, against the gold the
    ETL just wrote."""

    spec = gen.Spec(days=6, lines_per_day=800, eprints=600, deposit_days=7)
    traced_args = {"rounds": 1}

    def etl_once(self) -> dict:
        op = self.run.tally.attempt()
        r = run_etl(self.run, self.inroot, self.gold, self.cache, self.today, self.days[-1])
        rng = random.Random(self.run.seed + op)
        for why in expect.check_batch_gold(self.inp, self.gold, rng):
            self.run.tally.fail(op, why)
        log(f"etl: {r['etl_s']:.2f} s")
        return r

    def setup_once(self) -> None:
        # the ETL itself is not warmed up: it runs once, cold, as in a
        # nightly job's fresh process
        load_meta(self.run.spark, self.inroot).eprints.count()

    def measure(self, rounds: int = ROUNDS) -> dict:
        etl = self.etl_once()
        dts = fact_datatypes(self.gold)
        mix = RequestMix(self.inp, self.run.seed, set(dts), self.days)
        served = serve(self.run, etl["store"], mix, None, self.today, rounds,
                       deadline=time.perf_counter() + self.run.seconds)
        check_responses(self.run, served, self.gold, self.gold, dts, self.today)
        self.run.info["requests"] = served.kinds
        return {
            "etl_s": etl["etl_s"],
            "etl_events_per_s": self.lines / etl["etl_s"],
            "gold_bytes_per_event": gold_bytes(self.gold)[1] / self.lines,
            "ingest_p50_ms": etl["readable_s"] * 1000,
            **request_metrics(served),
            "input_lines": self.lines,
        }

    def warm_etl_s(self, base: dict) -> float:
        # the measured ETL ran cold; the traced one will not
        return self.etl_once()["etl_s"]


class IngestAndServe(Workload):
    """Per-day stream ingest, cache invalidation, then a cached burst."""

    spec = gen.Spec(days=SETUP_DAYS + MAX_CYCLES + MIN_CYCLES, lines_per_day=600,
                    eprints=600, deposit_days=14)
    traced_args = {"max_cycles": MIN_CYCLES}

    def prepare(self) -> None:
        """The dimensions the served reports join to, built by the
        program's batch path once (the nightly_etl workload times it).
        Then two days streamed a day per batch into a scratch output, so
        the measured cycles' incremental path (with its replay of the day
        before) does not run cold."""
        from irstats2_spark.etl import sets

        self.dims = os.path.join(self.run.work, "dims")
        meta = load_meta(self.run.spark, self.inroot)
        write_dims(self.run, sets.build_dimensions(meta.eprints, subjects=meta.subjects), meta.eprints, self.dims)
        self.run.spark.catalog.clearCache()
        warm = StreamDir(self.run, self.inp, self.inroot, "warmup")
        for d in self.days[:2]:
            warm.land(d)
            warm.ingest()

    def setup_once(self) -> None:
        """Stream the first SETUP_DAYS days into a fresh output."""
        self.sd = StreamDir(self.run, self.inp, self.inroot)
        for d in self.days[:SETUP_DAYS]:
            self.sd.land(d)
        self.sd.ingest()
        self.unchecked = self.run.tally.attempt()

    def check_stream(self, op: int) -> None:
        for why in expect.check_stream_gold(self.inp, self.sd.out, self.sd.landed):
            self.run.tally.fail(op, why)

    def measure(self, max_cycles: int = MAX_CYCLES) -> dict:
        from pyspark.sql import functions as F

        run, sd = self.run, self.sd
        if self.unchecked:
            self.check_stream(self.unchecked)
            self.unchecked = None
        stream_s, readable, lines, served = [], [], 0, Served()
        deadline = time.perf_counter() + run.seconds
        cycles = 0
        while cycles < MIN_CYCLES or (time.perf_counter() < deadline and cycles < max_cycles):
            day = self.days[len(sd.landed)]
            cycles += 1
            op = run.tally.attempt()
            t0 = time.perf_counter()
            sd.land(day)
            sd.ingest()
            t1 = time.perf_counter()
            store = stream_store(run, sd, self.dims)
            store.facts["downloads"].filter(F.col("datestamp") == day).count()
            readable.append(time.perf_counter() - t0)
            stream_s.append(t1 - t0)
            log(f"cycle {cycles}: stream {stream_s[-1]:.2f} s, readable {readable[-1]:.2f} s")
            lines += _lines(self.inp, day)
            self.check_stream(op)
            self.cache.clear()
            today = _day_date(day) + dt.timedelta(days=1)
            mix = RequestMix(self.inp, run.seed * 1000 + len(sd.landed), {"downloads", "views"}, sd.landed)
            burst = serve(run, store, mix, self.cache, today, BURST_ROUNDS)
            served.latencies += burst.latencies
            served.wall += burst.wall
            if cycles == 1:
                check_invalidation(run, store, burst, self.cache, today)
            check_responses(run, burst, sd.out, self.dims, ["downloads", "views"], today, limit=8)
        run.info["cycles"] = cycles
        landed_lines = sum(_lines(self.inp, d) for d in sd.landed)
        return {
            "etl_s": median(stream_s),
            "etl_events_per_s": lines / sum(stream_s),
            "gold_bytes_per_event": gold_bytes(sd.out)[1] / landed_lines,
            "ingest_p50_ms": median(readable) * 1000,
            **request_metrics(served),
            "input_lines": lines,
        }


class StreamDir:
    """The watched directory the stream reads, and landing of day files."""

    def __init__(self, run: Run, inp: gen.Inputs, inroot: str, name: str = "stream"):
        self.run, self.inp, self.inroot = run, inp, inroot
        base = os.path.join(run.work, name)
        shutil.rmtree(base, ignore_errors=True)
        self.watch = os.path.join(base, "current")
        self.out = os.path.join(base, "gold")
        self.ckpt = os.path.join(base, "checkpoint")
        os.makedirs(self.watch)
        os.makedirs(self.out)
        self.landed: list[int] = []
        self.landed_bytes = 0  # since the last ingest
        self.batches: list[dict] = []  # one per ingest: rows, run_id, landed_bytes

    def land(self, day: int) -> None:
        """Drop ``day``'s log and the late lines of the day before it."""
        keys = self.inp.day_keys()
        i = keys.index(day)
        srcs = [os.path.join(self.inroot, "logs", f"{gen.day_iso(day)}.log.gz")]
        if i and keys[i - 1] in self.inp.late_lines:
            srcs.append(os.path.join(self.inroot, "late", f"{gen.day_iso(keys[i - 1])}.log.gz"))
        for src in srcs:
            name = os.path.basename(os.path.dirname(src)) + "-" + os.path.basename(src)
            tmp = os.path.join(os.path.dirname(self.watch), name)
            shutil.copyfile(src, tmp)
            os.replace(tmp, os.path.join(self.watch, name))  # atomic landing
            self.landed_bytes += os.path.getsize(src)
        self.landed.append(day)

    def ingest(self) -> dict:
        """read_access_stream + start_fact_stream (availableNow) to
        completion."""
        from irstats2_spark.streaming import ingest

        tracer = self.run.tracer
        with tracer.span("stream.batch") if tracer else nullcontext():
            events = ingest.read_access_stream(self.run.spark, self.watch)
            q = ingest.start_fact_stream(events, self.out, self.ckpt, trigger_once=True)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        rows = sum(p.get("numInputRows", 0) for p in q.recentProgress)
        self.batches.append({"run_id": str(q.runId), "rows": rows, "landed_bytes": self.landed_bytes})
        self.landed_bytes = 0
        return self.batches[-1]


def stream_store(run: Run, sd: StreamDir, dims: str):
    """The serving store: the stream's facts re-read from disk plus the
    dimensions written in set-up."""
    from irstats2_spark.sources import storage

    base = open_gold(run.spark, dims, [])
    return replace(base, facts={d: storage.read_fact(run.spark, sd.out, d) for d in ("downloads", "views")})


def check_invalidation(run: Run, store, burst: Served, cache, today) -> None:
    """A response served from the cache after invalidation must equal a
    fresh uncached computation (checked on the first cacheable request of
    a cycle's burst)."""
    from irstats2_spark.plans.http import CACHE_ENABLED_VIEWS

    for op, req, _ in burst.sampled.values():
        if req.endpoint != "get" or req.params.get("view") not in CACHE_ENABLED_VIEWS:
            continue
        status, cached = serve_one(run, store, req, cache, today)
        _, fresh = serve_one(run, store, req, None, today)
        if status != 200 or cached != fresh:
            run.tally.fail(op, f"{req.kind}: cached response differs from a fresh one")
        break


WORKLOADS = {
    "nightly_etl": NightlyEtl,
    "ingest_and_serve": IngestAndServe,
}
