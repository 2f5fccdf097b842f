"""One measured benchmark process, started by ``run.py``.

Order of work: start the JVM, generate or reuse the WAL (and its warm-up
slice), fold the oracle, set up ``SETUP_REPS`` times (session + warm-up
batch + table create; the median is ``setup_s``), warm up once more over
the rest of the warm-up slice, then run timed fresh-lake cycles (at least
``MIN_CYCLES``, and until ``--seconds`` of cycle time have passed). A
cycle is: ingest (one ``run_stream`` call per epoch), view refreshes
(workloads that keep a view), full state reads. The correctness checks of
every cycle's lake run after the last timed cycle, untimed.

With ``--trace 1`` the timed cycles are followed by one more cycle in a
session that writes Spark's event log; its spans and stage metrics give
the per-layer metrics, and its wall minus the untraced cycle's is the
tracing overhead. A last ingest at ``local[1]`` gives the single-core
time that ``scaling_efficiency`` divides.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing as tr  # noqa: E402
import workloads as wls  # noqa: E402
from oracle import PAYLOAD, VIEW_GROUP, Oracle  # noqa: E402

SETUP_REPS = 3
# the driver JVM's heap (executors run inside it at local[N]), committed
# and touched at launch: a heap that grows lazily made the first full-size
# cycle slower and its peak memory vary with when the JVM chose to grow
HEAP = "1g"
# the JVM's JIT stops at its first tier (C1). A run lasts about a minute,
# most of it before the top tier (C2) would settle, and C2's compile
# decisions differ from JVM to JVM: with it, ten shuffle_ingest runs on a
# 4-core host spread 20-22% (IQR / median) on every timed metric, whole
# runs fast or slow together; with C1 alone, 14-16% in as noisy a stretch
# of the host (ingest rates 10-20% lower). What a comparison of two
# commits looks for is a change in the engine's own work (its jobs, files
# and commits), which shows under either tier, so the steadier tier is
# the one used.
JIT_TIER = 1
# full state reads per cycle: at least STATE_READS, and until they have
# taken READ_SECONDS, so a fast read (of which scheduling jitter is a large
# share) still gets a steady median; the median is over all cycles' reads
STATE_READS = 2
READ_SECONDS = 1.5
# timed cycles per run: at least MIN_CYCLES, and until they have taken
# --seconds; a fixed floor keeps the count, and so the share of the run
# still on the JIT's warm-up slope, the same from run to run
MIN_CYCLES = 2


def session(work: str, threads: int, event_log: str | None = None):
    from cnpj_data_pipeline_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the system temp directory
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel={JIT_TIER}",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{threads}]",
        # one shuffle partition per task thread: the inputs are small, more
        # partitions only add tasks
        shuffle_partitions=threads,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class RssSampler:
    """Peak resident memory of this process's descendants (the JVM and the
    Python workers it forks), sampled every 250 ms. This process itself,
    which holds the DuckDB oracle and the checks' collects, is left out, and
    so is a process seen in only one sample: the JVM forks short-lived
    helpers from task threads whose memory, read before they exec, is the
    JVM's own counted twice. ``at_peak`` is the resident memory per command
    name at the peak."""

    def __init__(self) -> None:
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> dict[int, tuple[str, int]]:
        kids: dict[int, list[int]] = {}
        rss: dict[int, tuple[str, int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
                ppid = int(tail.split()[1])
                with open(f"/proc/{d}/statm") as f:
                    rss[int(d)] = (head.split("(", 1)[1], int(f.read().split()[1]) * self._page)
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        tree = {}
        todo = list(kids.get(os.getpid(), []))
        while todo:
            p = todo.pop()
            if p in rss:
                tree[p] = rss[p]
            todo.extend(kids.get(p, []))
        return tree

    def _sample(self) -> None:
        tree = self._tree_rss()
        by_name: dict[str, int] = {}
        for p in tree.keys() & self._seen:
            name, n = tree[p]
            by_name[name] = by_name.get(name, 0) + n
        self._seen = set(tree)
        if sum(by_name.values()) > self.peak:
            self.peak, self.at_peak = sum(by_name.values()), by_name

    def _loop(self) -> None:
        while not self._stop.wait(0.25):
            self._sample()

    def __enter__(self):
        self._seen = set(self._tree_rss())
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        return False


def ingest_job(lake: str):
    from cnpj_data_pipeline_spark.config import EngineConfig
    from cnpj_data_pipeline_spark.plans.pipeline import IngestJob

    return IngestJob(
        lake,
        EngineConfig(n_buckets=wls.N_BUCKETS),
    )


def view_job(lake: str, view: str):
    """A GROUP BY view over the table, kept by the engine's delta consumer."""
    from cnpj_data_pipeline_spark.config import EngineConfig
    from cnpj_data_pipeline_spark.plans.ivm import AggSyncJob

    return AggSyncJob(
        lake, view, [VIEW_GROUP], {"text_len": "length(text)"},
        cfg=EngineConfig(n_buckets=wls.N_BUCKETS),
    )


def read_state(spark, lake: str) -> None:
    from cnpj_data_pipeline_spark.lake.format import LakeTable

    LakeTable.load(lake).read(spark).write.format("noop").mode("overwrite").save()


def run_cycle(spark, wl, wal: str, lake: str, view: str, rec: tr.Recorder,
              ingest_only: bool = False) -> dict:
    """Ingest ``wal`` into a fresh lake at ``lake``, one ``run_stream`` call
    per epoch (a stream tail's micro-batches); unless ``ingest_only``,
    refresh the view every ``wl.refresh_every`` calls and read the full
    state at the end (see ``STATE_READS``). Returns timings and the apply
    metrics; raises whatever the engine raises."""
    job = ingest_job(lake)
    job.ensure_table()
    vjob = view_job(lake, view) if wl.refresh_every and not ingest_only else None
    out = {"calls_s": [], "refresh_s": [], "applies": [], "ops": 0}
    calls = len(wls.epoch_dirs(wal))
    t_cycle = time.perf_counter()
    for i in range(1, calls + 1):
        t = time.perf_counter()
        ms = job.run_stream(spark, wal, max_epochs=1)
        out["calls_s"].append(time.perf_counter() - t)
        out["applies"].extend(m for m in ms if not m["skipped"])
        out["ops"] += len(ms)
        if vjob is not None and (i % wl.refresh_every == 0 or i == calls):
            t = time.perf_counter()
            vjob.run_once(spark)
            out["refresh_s"].append(time.perf_counter() - t)
            out["ops"] += 1
    if not ingest_only:
        reads = []
        while len(reads) < STATE_READS or sum(reads) < READ_SECONDS:
            with rec.span("lake.read"):
                t = time.perf_counter()
                read_state(spark, lake)
                reads.append(time.perf_counter() - t)
        out["reads"] = reads
        out["ops"] += len(reads)
    out["wall_s"] = time.perf_counter() - t_cycle
    out["ingest_s"] = sum(out["calls_s"])
    return out


def check_cycle(spark, oracle: Oracle, lake: str, view: str | None, cyc: dict) -> tuple[int, list[str]]:
    """The untimed correctness checks of one cycle: (checks run, failures)."""
    from cnpj_data_pipeline_spark.lake.format import LakeTable

    applied: dict[int, int] = {}
    for m in cyc["applies"]:
        applied[m["epoch"]] = applied.get(m["epoch"], 0) + m["rows_applied"]
    checks = [
        lambda: oracle.check_conservation(applied),
        lambda: oracle.check_state(
            LakeTable.load(lake).read(spark).select(*PAYLOAD).toArrow()
        ),
    ]
    if view is not None:
        checks.append(lambda: oracle.check_view(LakeTable.load(view).read(spark).toArrow()))
    fails = []
    for check in checks:
        try:
            err = check()
        except Exception as e:  # a check that crashes has failed
            err = f"{type(e).__name__}: {e}"
        if err:
            fails.append(err)
    return len(checks), fails


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )


def epoch_freshness(spans: list[tr.Span]) -> list[float]:
    """Per ingest apply: seconds from the apply call to the end of its
    first commit (the moment the epoch is visible to readers)."""
    first_commit: dict[int, tr.Span] = {}
    for s in spans:
        if s.name == "lake.commit" and s.parent is not None:
            first_commit.setdefault(s.parent, s)
    return [
        first_commit[s.sid].end - s.start
        for s in spans
        if s.name == "operators.apply" and s.sid in first_commit
    ]


def _cpu_times() -> list[int]:
    """The host's CPU time counters from ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal (zeros where unreadable)."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        v = []
    return v if len(v) == 8 else [0] * 8


class Bench:
    def __init__(self, a):
        self.a = a
        self.wl = wls.WORKLOADS[a.workload]
        self.work = a.work
        for d in ("spark-local", "warehouse", "tmp", "wal-cache"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        self.runs = os.path.join(self.work, "runs")
        shutil.rmtree(self.runs, ignore_errors=True)
        os.makedirs(self.runs)
        self.rec = tr.Recorder()
        tr.install(self.rec, inspect_lake=bool(a.trace))
        self.attempted = 0
        self.failures: list[str] = []
        self.cycles: list[dict] = []
        self._t, self._cpu = time.perf_counter(), _cpu_times()

    def phase(self, name: str) -> None:
        """Log a finished phase's wall and the host's CPU-time shares over it
        (``steal``: time the hypervisor gave this machine's CPUs to others)."""
        now, cpu = time.perf_counter(), _cpu_times()
        d = [x - y for x, y in zip(cpu, self._cpu)]
        total = max(sum(d), 1)
        busy = (d[0] + d[1] + d[2] + d[5] + d[6]) / total
        print(
            f"perfbench: {name} {now - self._t:.2f}s"
            f" (cpu busy {busy:.0%}, steal {d[7] / total:.0%})",
            file=sys.stderr, flush=True,
        )
        self._t, self._cpu = now, cpu

    def paths(self, tag: str) -> tuple[str, str]:
        return os.path.join(self.runs, f"lake-{tag}"), os.path.join(self.runs, f"view-{tag}")

    def drop(self, tag: str) -> None:
        for p in self.paths(tag):
            shutil.rmtree(p, ignore_errors=True)

    def start(self) -> None:
        self.spark = session(self.work, self.a.threads)
        self.phase("jvm")
        self.wal, self.warm = wls.ensure_wal(
            self.spark, self.wl, self.a.seed, os.path.join(self.work, "wal-cache")
        )
        self.wal_bytes = sum(os.path.getsize(f) for f in wls.wal_files(self.wal))
        self.phase("wal")
        self.oracle = Oracle(self.wal)
        self.phase("oracle")
        self.setups = self.set_up()
        self.warm_up()

    def set_up(self) -> list[float]:
        """``SETUP_REPS`` times: stop the session and start a new one (a new
        SparkContext in the running JVM), run the warm-up batch (the first
        epoch of a small WAL into a scratch table) and create the measured
        table. The JVM's own launch is not in it: it happens once per
        process, before the WAL exists."""
        secs = []
        for _ in range(SETUP_REPS):
            self.drop("warm")
            self.spark.stop()
            t = time.perf_counter()
            self.spark = session(self.work, self.a.threads)
            ingest_job(self.paths("warm")[0]).run_stream(
                self.spark, self.warm, max_epochs=1
            )
            ingest_job(self.paths("0")[0]).ensure_table()
            secs.append(time.perf_counter() - t)
        self.phase("setup " + " ".join(f"{x:.2f}" for x in secs))
        return secs

    def warm_up(self) -> None:
        """Untimed: the rest of the warm-up WAL into the scratch table (all
        of it when set-up has not left its first epoch there), one view
        refresh and one state read, so the first timed apply, refresh and
        read are not cold."""
        lake, view = self.paths("warm")
        ingest_job(lake).run_stream(self.spark, self.warm)
        if self.wl.refresh_every:
            view_job(lake, view).run_once(self.spark)
        read_state(self.spark, lake)
        self.drop("warm")
        self.phase("warm")

    def cycle(self, tag: str, ingest_only: bool = False) -> dict | None:
        """One timed fresh-lake cycle (its checks are ``check``'s); None if
        the engine raised."""
        lake, view = self.paths(tag)
        self.rec.spans.clear()
        try:
            with RssSampler() as rss:
                cyc = run_cycle(self.spark, self.wl, self.wal, lake, view, self.rec, ingest_only)
        except Exception as e:
            self.attempted += 1
            self.failures.append(f"cycle {tag}: {type(e).__name__}: {e}")
            self.drop(tag)
            return None
        cyc["tag"] = tag
        cyc["spans"] = list(self.rec.spans)
        cyc["peak_rss"] = rss.peak
        self.attempted += cyc["ops"]
        fmt = lambda xs: " ".join(f"{x:.2f}" for x in xs)  # noqa: E731
        self.phase(
            f"cycle {tag} calls {fmt(cyc['calls_s'])} reads {fmt(cyc.get('reads', []))}"
            f" refresh {fmt(cyc['refresh_s'])} rss "
            + " ".join(f"{k}={v / 2**20:.0f}M" for k, v in sorted(rss.at_peak.items()))
        )
        if ingest_only:
            self.drop(tag)
        return cyc

    def check(self, cyc: dict) -> None:
        """The untimed checks of a cycle's lake, then drop the lake."""
        lake, view = self.paths(cyc["tag"])
        n, errs = check_cycle(
            self.spark, self.oracle, lake, view if self.wl.refresh_every else None, cyc
        )
        self.attempted += n
        self.failures.extend(f"cycle {cyc['tag']}: {e}" for e in errs)
        cyc["write_amp"] = dir_bytes(lake) / self.wal_bytes
        cyc["snapshot"] = _snapshot_facts(lake)
        self.drop(cyc["tag"])
        self.phase(f"check {cyc['tag']}")

    def timed(self) -> dict:
        """The timed cycles, then their checks (so no check's memory or
        work lands between two timed cycles)."""
        while (len(self.cycles) < MIN_CYCLES
               or sum(c["wall_s"] for c in self.cycles) < self.a.seconds):
            cyc = self.cycle(str(len(self.cycles)))
            if cyc is None:
                break
            self.cycles.append(cyc)
        for cyc in self.cycles:
            self.check(cyc)
        cycles = self.cycles
        if not cycles:
            return {}
        # Per cycle the median call and the median freshness, then the
        # median of those over cycles (their mean at two): a burst of load
        # from elsewhere on the host that stretches a few calls moves them
        # little, and the faster second cycle (later on the JIT's warm-up
        # slope) is averaged in the same way on every run. The consume rate
        # keeps every call and refresh (compactions included): events over
        # a cycle's ingest plus refresh wall, median over cycles.
        med = statistics.median
        ingest_s = med(len(c["calls_s"]) * med(c["calls_s"]) for c in cycles)
        consume_s = med(c["ingest_s"] + sum(c["refresh_s"]) for c in cycles)
        fresh = [epoch_freshness(c["spans"]) for c in cycles]
        refresh = [x for c in cycles for x in c["refresh_s"]]
        events = self.oracle.events
        return {
            "setup_s": statistics.median(self.setups),
            "ingest_events_per_s": events / ingest_s,
            "consume_events_per_s": events / consume_s,
            "epoch_commit_s.p50": med(med(f) for f in fresh),
            "state_read_s": statistics.median(x for c in cycles for x in c["reads"]),
            "write_amp": statistics.median(c["write_amp"] for c in cycles),
            "peak_rss_mb": max(c["peak_rss"] for c in cycles) / 2**20,
            "view_refresh_s.p50": statistics.median(refresh) if refresh else 0.0,
            "epoch_commit.samples": sum(map(len, fresh)),
            "cycle_wall_s": statistics.median(c["wall_s"] for c in cycles),
        }

    def traced(self, e2e: dict) -> dict:
        """One cycle with Spark's event log on, then the local[1] ingest."""
        evdir = os.path.join(self.work, "eventlog")
        shutil.rmtree(evdir, ignore_errors=True)
        os.makedirs(evdir)
        self.spark.stop()
        self.spark = session(self.work, self.a.threads, evdir)
        self.warm_up()
        cyc = self.cycle("traced")
        if cyc is not None:
            self.check(cyc)
        app = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = session(self.work, 1)
        run_cycle(self.spark, self.wl, self.warm, *self.paths("warm"), self.rec, ingest_only=True)
        self.drop("warm")
        single = self.cycle("single", ingest_only=True)
        if cyc is None or single is None:
            return {}
        with open(os.path.join(evdir, app)) as f:
            stages = tr.parse_event_log(f)
        self.rec.spans[:] = cyc["spans"]
        self.rec.dump(os.path.join(self.work, f"spans-{self.a.workload}.jsonl"))
        out = layer_metrics(cyc, stages, self.oracle.events, self.wal, self.wal_bytes)
        out["trace.overhead_s"] = cyc["wall_s"] - e2e["cycle_wall_s"]
        out["scaling_efficiency"] = single["ingest_s"] / (self.a.threads * cyc["ingest_s"])
        return out


def _snapshot_facts(lake: str) -> dict:
    from cnpj_data_pipeline_spark.lake.format import LakeTable

    table = LakeTable.load(lake)
    snap = table.snapshot()
    buckets = snap["buckets"].values()
    return {
        "snapshot_bytes": os.path.getsize(
            os.path.join(table.meta_dir, f"snapshot-{snap['snapshot_id']}.json")
        ),
        "read_files": sum(len(b["files"]) for b in buckets),
        "unmerged_buckets": sum(1 for b in buckets if not b.get("merged", True)),
    }


SOURCE_FNS = ("pending_epochs", "bucketed_layout", "epoch_row_count", "read_epoch")


def layer_metrics(cyc: dict, stages: list[tr.Stage], rows_in: int, wal: str,
                  wal_bytes: int) -> dict:
    """The per-layer metrics of one traced cycle."""
    spans = cyc["spans"]
    by_span = tr.attribute(spans, stages)
    selfs = tr.self_times(spans)
    layers = tr.layer_table(spans, cyc["wall_s"])

    def named(name):
        return [s for s in spans if s.name == name]

    def total(name):
        return sum(s.seconds for s in named(name))

    applies = named("operators.apply")
    apply_stages = [st for s in applies for st in by_span.get(s.sid, [])]
    ex = tr.stage_totals(apply_stages)
    # stages inside the cycle's spans only: -1 holds the warm-up's and the
    # checks' stages, which ran in the same traced session
    cycle_stages = [st for sid, sts in by_span.items() if sid != -1 for st in sts]
    eng = tr.stage_totals(cycle_stages)
    rows_applied = sum(s.info.get("rows_applied", 0) for s in applies)
    compactions = [s for s in named("lake.compact") if s.info.get("compacted")]
    snap = cyc["snapshot"]
    return {
        "sources.plan_s": sum(total(f"sources.{f}") for f in SOURCE_FNS),
        "sources.wal_bytes": wal_bytes,
        "sources.wal_files": len(wls.wal_files(wal)),
        "operators.apply_s": sum(selfs[s.sid] for s in applies),
        "operators.merge_write_s": sum(s.info.get("merge_write_s", 0.0) for s in applies),
        "operators.rows_in": rows_in,
        "operators.rows_applied": rows_applied,
        "operators.fold_ratio": rows_applied / rows_in,
        "operators.task_skew": tr.task_skew(apply_stages),
        "exchange.shuffle_write_bytes": ex["shuffle_write_bytes"],
        "exchange.shuffle_write_s": ex["shuffle_write_s"],
        "exchange.shuffle_read_bytes": ex["shuffle_read_bytes"],
        "exchange.fetch_wait_s": ex["fetch_wait_s"],
        "exchange.spill_bytes": ex["spill_bytes"],
        "engine.executor_run_s": eng["run_s"],
        "engine.executor_cpu_s": eng["cpu_s"],
        "engine.gc_s": eng["gc_s"],
        "engine.stages": len(cycle_stages),
        "lake.commit_s": total("lake.commit"),
        "lake.commits": len(named("lake.commit")),
        "lake.commit_retries": max(
            len(named("lake.cas_attempt")) - len(named("lake.commit")), 0
        ),
        "lake.snapshot_bytes": snap["snapshot_bytes"],
        "lake.compact_s": total("lake.compact"),
        "lake.compactions": len(compactions),
        "lake.compact_bytes_rewritten": sum(
            s.info.get("bytes_rewritten", 0) for s in compactions
        ),
        "lake.read_s": statistics.median(s.seconds for s in named("lake.read")),
        "lake.read_files": snap["read_files"],
        "lake.unmerged_buckets": snap["unmerged_buckets"],
        "lake.changes_typed_s": total("lake.changes_typed"),
        "plans.loop_overhead_s": sum(selfs[s.sid] for s in named("plans.run_stream")),
        "plans.view_merge_s": total("plans.view_merge"),
        "plans.view_groups_written": sum(
            s.info.get("rows_applied", 0) for s in named("plans.view_merge")
        ),
        "layer.sources_self_s": layers["sources"],
        "layer.operators_self_s": layers["operators"],
        "layer.lake_self_s": layers["lake"],
        "layer.plans_self_s": layers["plans"],
        "layer.unattributed_s": layers["unattributed"],
        "trace.attributed_share": layers["attributed_share"],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(wls.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--threads", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)

    b = Bench(a)
    b.start()
    result: dict = {"e2e": b.timed()}
    if a.trace and b.cycles and not b.failures:
        result["layers"] = b.traced(result["e2e"])
    b.spark.stop()
    b.oracle.close()
    b.phase("stop")
    failed = len(b.failures)
    result.update(
        correct=bool(b.cycles) and not failed and (not a.trace or bool(result.get("layers"))),
        attempted=max(b.attempted, 1),
        failed=failed,
        failures=b.failures[:5],
        cycles=len(b.cycles),
    )
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
