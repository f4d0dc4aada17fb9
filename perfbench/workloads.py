"""The benchmark workloads. Each one drives the public API of ``cdc_engine``
from a single process at ``local[<cores>]``.

Life of a run: inputs are generated from the seed (untimed) while the
session starts; set-up runs ``SETUP_ROUNDS`` times, each doing the
workload's preload on fresh lakes (the first round also warms the JVM),
and ``setup_s`` is the median round; then the workload is measured for
about ``--seconds``, and at least a minimum count of units of work; then
its outputs are checked against the oracles (untimed). See README.md for why each workload exists and which layers it
loads.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

SETUP_ROUNDS = 3


def med(xs: list[float], empty: float = 0.0) -> float:
    """Median; ``empty`` when a failed run has no samples."""
    return statistics.median(xs) if xs else empty


def pctl(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(np.ceil(q * len(s))) - 1))]


def timed_stats(name: str, xs: list[float], unit: str, scale: float = 1.0) -> dict:
    """Median (and p90 when at least 10 samples lie beyond it) of a sample."""
    out = {f"{name}_p50_{unit}": {"value": statistics.median(xs) * scale, "unit": unit, "n": len(xs)}}
    if len(xs) >= 100:
        out[f"{name}_p90_{unit}"] = {"value": pctl(xs, 0.9) * scale, "unit": unit, "n": len(xs)}
    else:
        # too few samples for a p90; the maximum is reported in its place
        out[f"{name}_p90_{unit}"] = {"value": max(xs) * scale, "unit": unit, "n": len(xs),
                                     "note": "max: fewer than 100 samples"}
    return out


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


class Workload:
    """Base class. Subclasses define gen_inputs / prepare / measure / check
    and fill ``self.e2e`` (gated metrics) and ``self.detail``."""

    name = ""

    def __init__(self, run):
        self.run = run
        self.seed = run.seed
        self.work = run.work
        self.failed = 0
        self.attempted = 0
        self.detail: dict = {}
        self.inputs: dict = {}
        self.origin: dict[str, str] = {}  # copied lake -> the lake it copies

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)

    def op(self, fn, *a, **kw):
        """Run one measured operation; an exception counts as a failed op.
        In a traced run the operation's spans share its id."""
        self.attempted += 1
        if self.run.tracer is not None:
            self.run.tracer.op = f"{self.name}#{self.attempted}"
        try:
            return fn(*a, **kw)
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            self.failed += 1
            self.run.log(f"op failed: {type(e).__name__}: {e}")
            return None

    @staticmethod
    def window_open(elapsed: float, last: float, seconds: float) -> bool:
        """A unit of work starts while its expected midpoint falls inside
        the measurement window."""
        return elapsed + last / 2 < seconds

    def fail_check(self, what: str, info) -> None:
        self.failed += 1
        self.run.log(f"check failed: {what}: {info}")

    def layer_extras(self) -> dict:
        """Per-layer figures read from the workload's lakes after a traced
        measurement."""
        return {"lake.files_per_bucket_max": max(
            (max(lk.bucket_file_counts().values(), default=0) for lk in self.lakes()), default=0)}

    def captured_counts(self, tracer) -> dict:
        return {}

    def scaling(self, run) -> dict:
        return {}


# ----------------------------------------------------------------- trickle


class TailMorTrickle(Workload):
    """Open loop. A publisher thread links pre-generated one-epoch WAL
    segments into the tailed WAL directory on a fixed schedule (a hard link
    is an atomic publish); the tail loop calls ``runner.replay`` on whatever
    has arrived, into a MoR lake. The WAL switches schema v1 -> v2 inside
    the measured window."""

    name = "tail_mor_trickle"
    E = 500  # events per epoch
    WARM = 3  # epochs replayed during set-up
    N_EPOCHS = 120

    def gen_inputs(self):
        from perfbench.inputs import make_docs, make_wal, wal_shape

        make_docs(self.path("docs.parquet"), 500, self.seed)
        self.wcfg, _ = make_wal(
            self.path("stage"), self.path("docs.parquet"), self.seed,
            n_events=self.E * self.N_EPOCHS, events_per_epoch=self.E,
            schema_change_at_epoch=self.WARM + 4,
        )
        from cdc_engine.source import list_segments

        self.segments = list_segments(self.path("stage"))  # (first_seq, ver, path)
        self.inputs = wal_shape(self.path("stage"), self.wcfg)
        self.round = 0

    def _publish(self, tail: str, k: int) -> None:
        first, ver, src = self.segments[k]
        d = os.path.join(tail, f"v{ver}")
        os.makedirs(d, exist_ok=True)
        os.link(src, os.path.join(d, os.path.basename(src)))

    def prepare(self, spark, warm: bool):
        """Fresh tailed WAL holding the warm epochs, replayed into a fresh
        MoR lake; the per-epoch time of the warm replays sets the publish
        schedule."""
        from cdc_engine import CdcConfig, SnapLake
        from cdc_engine import runner
        from cdc_engine.schemas import PAGES_SCHEMA_V1

        self.round += 1
        self.tail = self.path(f"tail{self.round}")
        for k in range(self.WARM):
            self._publish(self.tail, k)
        self.lake = SnapLake.create(self.path(f"lake{self.round}"), PAGES_SCHEMA_V1, mode="mor")
        self.cfg = CdcConfig(events_per_epoch=self.E)
        per_epoch = []
        for _ in range(self.WARM):
            t = time.perf_counter()
            runner.replay(spark, self.lake, self.tail, self.cfg, max_epochs=1)
            per_epoch.append(time.perf_counter() - t)
        # publish at about half the measured drain rate
        self.interval = 2.0 * statistics.median(per_epoch)

    def measure(self, spark, seconds: float):
        from cdc_engine import runner

        lake, tail = self.lake, self.tail
        sched: dict[int, float] = {}
        n_pub = [self.WARM]
        stop = threading.Event()
        lock = threading.Lock()
        t_start = time.perf_counter()
        late: list[float] = []

        def publisher():
            k = self.WARM
            while k < len(self.segments) and not stop.is_set():
                due = t_start + (k - self.WARM) * self.interval
                wait = due - time.perf_counter()
                if wait > 0 and stop.wait(wait):
                    break
                self._publish(tail, k)
                late.append(time.perf_counter() - due)
                with lock:
                    sched[k] = due
                    n_pub[0] = k + 1
                k += 1

        pub = threading.Thread(target=publisher, name="wal-publisher")
        pub.start()
        fresh: list[float] = []
        calls: list[tuple[float, int, int]] = []  # (wall, epochs, lag at start)
        events = 0
        committed = set(lake.committed_epochs())
        deadline = t_start + seconds
        try:
            while True:
                now = time.perf_counter()
                if now >= deadline and not stop.is_set():
                    stop.set()
                    pub.join()
                with lock:
                    published = n_pub[0]
                if published <= len(committed):
                    if stop.is_set():
                        break
                    time.sleep(0.002)
                    continue
                lag = published - len(committed)
                t0 = time.perf_counter()
                try:
                    runner.replay(spark, lake, tail, self.cfg)
                except Exception as e:  # noqa: BLE001 - counted below
                    self.run.log(f"replay failed: {type(e).__name__}: {e}")
                    break
                t1 = time.perf_counter()
                now_committed = set(lake.committed_epochs())
                new = now_committed - committed
                committed = now_committed
                for k in new:
                    fresh.append(t1 - sched[k])
                events += len(new) * self.E
                calls.append((t1 - t0, len(new), lag))
        finally:
            stop.set()
            pub.join()
        # every published epoch is an op; one still uncommitted has failed
        self.attempted += len(sched)
        self.failed += len(sched) - len(fresh)
        self.fresh, self.calls, self.late = fresh, calls, late
        busy = sum(c[0] for c in calls)
        self.e2e = {
            "op_p50_ms": med(fresh) * 1e3,
            "throughput_per_s": events / (busy or float("inf")),
            "batch_ms": med([c[0] for c in calls]) * 1e3,
        }
        self.detail.update(timed_stats("freshness", fresh, "s"))
        self.detail["publish_interval_s"] = {"value": self.interval, "unit": "s"}
        self.detail["generator_late_p50_ms"] = {"value": statistics.median(late) * 1e3, "unit": "ms", "n": len(late)}
        self.detail["generator_late_max_ms"] = {"value": max(late) * 1e3, "unit": "ms", "n": len(late)}
        self.detail["events_applied"] = {"value": events, "unit": "count"}
        self.wal_bytes = sum(os.path.getsize(self.segments[k][2]) for k in sched)

    def check(self, spark):
        from gen.walgen import compute_oracle
        from perfbench.inputs import read_events
        from perfbench.oracle import state_matches

        ev = read_events(self.tail)
        cfg = self.wcfg
        cfg_prefix = type(cfg)(**{**cfg.__dict__, "n_events": len(ev)})
        ok, info = state_matches(spark, self.lake, compute_oracle(ev, cfg_prefix))
        self.detail["state_check"] = info
        if not ok:
            self.fail_check("trickle final state vs oracle", info)

    def layer_extras(self) -> dict:
        lags = [c[2] for c in self.calls]
        return {**super().layer_extras(), "source.pickup_lag_epochs": statistics.mean(lags) if lags else 0.0}

    def lakes(self):
        return [self.lake]


# ----------------------------------------------------------------- catch-up


class CurateBatch:
    """One batch ``curate()`` over the workload's seeded template corpus,
    written to a parquet sink partitioned by split. Set-up warms it on a
    small corpus of its own."""

    WARM_DOCS = 20

    def __init__(self, wl, docs_path: str, docs):
        self.wl = wl
        self.src = docs_path
        self.n_docs = len(docs)
        self.distinct_texts = int(docs["text"].nunique())
        self.n_out = 0
        self.report = None

    def shape(self) -> dict:
        return {"curate_docs": self.n_docs, "curate_distinct_texts": self.distinct_texts}

    def _curate(self, spark, src: str):
        from cdc_engine.curate import curate

        self.n_out += 1
        cur, rep = curate(spark.read.parquet(src))
        cur.write.partitionBy("split").parquet(self.wl.path(f"curated{self.n_out}"))
        cur.unpersist()
        return rep

    def warm(self, spark) -> None:
        from perfbench.inputs import make_docs

        warm = self.wl.path("curate_warm.parquet")
        if not os.path.exists(warm):
            make_docs(warm, self.WARM_DOCS, self.wl.seed + 7919)
        self._curate(spark, warm)

    def run(self, spark) -> float | None:
        """The measured call; returns its wall time, None if it raised."""
        t = time.perf_counter()
        rep = self.wl.op(self._curate, spark, self.src)
        if rep is None:
            return None
        self.report = rep
        return time.perf_counter() - t

    def check(self) -> None:
        """Funnel invariants and an exact-dedup count taken in pandas."""
        rep = self.report
        if rep is None:
            return
        probs = []
        if rep["docs_in"] != self.n_docs:
            probs.append("docs_in")
        if rep["after_exact_dedup"] != self.distinct_texts:
            probs.append("after_exact_dedup")
        if sum(rep["funnel"].values()) - rep["funnel"]["pass"] + rep["after_quality"] != rep["after_near_dedup"]:
            probs.append("funnel sum")
        if sum(rep["splits"].values()) != rep["after_quality"]:
            probs.append("splits sum")
        if probs:
            self.wl.fail_check("curate report", probs)
        self.wl.detail["curate_report"] = rep

    def captured_counts(self, tracer) -> dict:
        """Curate stage span seconds per call, LSH candidate and kept pair
        counts (counted after the traced window from the captured plans)."""
        calls = max(1, len(tracer.named("curate.curate")))
        out = {f"{name}_s": sum(s.dur for s in tracer.named(name)) / calls for name in CURATE_STAGES}
        cand = tracer.captured.get("dedup_text.lsh_candidate_pairs", [])
        kept = tracer.captured.get("dedup_text.jaccard_on_lsh", [])
        n_cand = cand[-1].count() if cand else 0
        out["dedup_text.candidate_pairs"] = n_cand
        out["dedup_text.pair_keep_ratio"] = kept[-1].count() / n_cand if n_cand else 0.0
        return out


CURATE_STAGES = ("textops.pii_scrub", "dedup_text.exact_dedup_canonical",
                 "dedup_text.jaccard_on_lsh", "dedup_text.connected_components",
                 "textops.quality_funnel", "sampling.split_column")


class CatchupBulk(Workload):
    """Closed loop, batch work. A table fell behind its WAL: set-up preloads
    a COW and a MoR lake with the first epochs; each drain copies a
    preloaded lake (untimed) and catches it up with a single
    ``runner.replay`` over the zipf-skewed, update-heavy backlog in fat
    epochs. COW and MoR drains alternate while time remains, at least
    MIN_PAIRS pairs; then one batch ``curate()`` over the document corpus
    closes the window."""

    name = "catchup_bulk"
    E = 6_000
    PRELOAD_EPOCHS = 2
    BACKLOG_EPOCHS = 2
    MIN_PAIRS = 2

    def gen_inputs(self):
        from perfbench.inputs import make_docs, make_wal, read_events, wal_shape

        docs = make_docs(self.path("docs.parquet"), 500, self.seed)
        self.curate = CurateBatch(self, self.path("docs.parquet"), docs)
        self.wcfg, self.oracle = make_wal(
            self.path("wal"), self.path("docs.parquet"), self.seed,
            n_events=self.E * (self.PRELOAD_EPOCHS + self.BACKLOG_EPOCHS),
            events_per_epoch=self.E, n_domains=4_000, pages_per_domain=50, zipf_a=1.1,
        )
        self.inputs = wal_shape(self.path("wal"), self.wcfg)
        ev = read_events(self.path("wal"))
        cut = self.E * self.PRELOAD_EPOCHS
        self.inputs["preload_events"] = cut
        self.inputs["preload_distinct_urls"] = int(ev.loc[ev["seq"] < cut, "url"].nunique())
        self.inputs["backlog_epoch_distinct_urls"] = int(
            ev[ev["seq"] >= cut].groupby(ev["seq"] // self.E)["url"].nunique().mean())
        self.inputs.update(self.curate.shape())
        self.backlog_events = self.E * self.BACKLOG_EPOCHS
        self.backlog_bytes = int(self.inputs["segment_bytes"] * self.BACKLOG_EPOCHS
                                 / (self.PRELOAD_EPOCHS + self.BACKLOG_EPOCHS))
        self.round = 0
        self.n_lakes = 0
        self.drained: list = []

    def prepare(self, spark, warm: bool):
        """Preload one lake per mode; the first round also warms curate()."""
        from cdc_engine import CdcConfig, SnapLake
        from cdc_engine import runner
        from cdc_engine.schemas import PAGES_SCHEMA_V1

        self.round += 1
        self.cfg = CdcConfig(events_per_epoch=self.E)
        self.base = {}
        # the cold curate() warm-up runs beside the preload: most of its
        # time is the JVM compiling plans on one thread
        with ThreadPoolExecutor(max_workers=1) as pool:
            warming = pool.submit(self.curate.warm, spark) if warm else None
            for mode in ("cow", "mor"):
                lake = SnapLake.create(self.path(f"base{self.round}_{mode}"), PAGES_SCHEMA_V1, mode=mode)
                runner.replay(spark, lake, self.path("wal"), self.cfg, max_epochs=self.PRELOAD_EPOCHS)
                self.base[mode] = lake.path
            if warming is not None:
                warming.result()

    def _copy(self, mode: str, tag: str):
        from cdc_engine import SnapLake

        self.n_lakes += 1
        dst = self.path(f"{tag}{self.n_lakes}_{mode}")
        shutil.copytree(self.base[mode], dst)
        self.origin[dst] = self.base[mode]
        return SnapLake(dst)

    def _drain(self, spark, lake):
        from cdc_engine import runner

        t = time.perf_counter()
        runner.replay(spark, lake, self.path("wal"), self.cfg)
        return time.perf_counter() - t

    def measure(self, spark, seconds: float):
        walls = {"cow": [], "mor": []}
        pairs = []
        while len(pairs) < self.MIN_PAIRS or self.window_open(sum(pairs), pairs[-1], seconds):
            pair = 0.0
            for mode in ("cow", "mor"):
                lake = self._copy(mode, "drain")
                wall = self.op(self._drain, spark, lake)
                if wall is None:
                    break
                self.drained.append((mode, lake))
                walls[mode].append(wall)
                pair += wall
            else:
                pairs.append(pair)
                continue
            break
        curate_s = self.curate.run(spark) if len(pairs) >= self.MIN_PAIRS else None
        n = self.backlog_events
        cow, mor = med(walls["cow"]), med(walls["mor"])
        # the two drain modes and the curate batch are gated apart
        self.e2e = {"op_p50_ms": cow * 1e3, "throughput_per_s": n / (mor or float("inf")),
                    "batch_ms": (curate_s or 0.0) * 1e3}
        for mode in ("cow", "mor"):
            self.detail[f"{mode}_events_per_s"] = {
                "value": n / med(walls[mode], float("inf")), "unit": "1/s", "n": len(walls[mode])}
        self.detail["events_per_s"] = {"value": 2 * n / ((cow + mor) or float("inf")), "unit": "1/s"}
        self.detail["curate_s"] = {"value": curate_s, "unit": "s", "n": 1}
        self.detail["drain_s"] = {"value": walls, "unit": "s"}
        self.wal_bytes = self.backlog_bytes * (len(walls["cow"]) + len(walls["mor"]))

    def check(self, spark):
        """The first COW and MoR drains against the oracle; every later
        drain must record the same lineage (rows in, upserted and deleted
        per epoch and source partition) as the first drain of its mode;
        the curate report's invariants."""
        from perfbench.oracle import frame_hashes, oracle_frame

        self.curate.check()
        if not self.drained:
            return

        def lineage(lake):
            rows, v = [], lake.head_version()
            while v is not None:
                man = lake.manifest(v)
                rows += [(r["epoch_id"], r["partition_id"] if r["partition_id"] is not None else -1,
                          r["rows_in"], r["rows_upserted"], r["rows_deleted"]) for r in man.get("lineage", [])]
                v = man["parent"]
            return sorted(rows)

        first = {}
        for mode, lake in self.drained:
            first.setdefault(mode, lake)
        schema = self.drained[0][1].schema()
        want, *got = frame_hashes(
            [oracle_frame(spark, self.oracle, schema), *[lake.scan(spark) for lake in first.values()]])
        for mode, h in zip(first, got):
            if h != want:
                self.fail_check(f"catchup {mode} state vs oracle", (h[0], want[0]))
        ref = {mode: lineage(lake) for mode, lake in first.items()}
        same = 0
        for mode, lake in self.drained:
            if lake is not first[mode]:
                if lineage(lake) != ref[mode]:
                    self.fail_check(f"catchup {mode} lineage differs between drains", lake.path)
                else:
                    same += 1
        self.detail["state_check"] = {"oracle_rows": want[0], "cow_mor_equal_oracle": got == [want] * len(got),
                                      "lineage_equal": same}

    def lakes(self):
        return [lake for _m, lake in self.drained]

    def captured_counts(self, tracer) -> dict:
        return self.curate.captured_counts(tracer)

    def scaling(self, run) -> dict:
        """Single-core baseline: one COW and one MoR drain of the backlog at
        local[1] on copies of the preloaded lakes, on the warm JVM, against
        the untraced measurement's median COW and MoR drains at
        local[cores]."""
        run.stop_session()
        spark = run.build(master="local[1]")
        n = self.backlog_events
        one = 2 * n / sum(self._drain(spark, self._copy(mode, "scale")) for mode in ("cow", "mor"))
        base = run.untraced_e2e
        many = 2 * n / (base["op_p50_ms"] / 1e3 + n / base["throughput_per_s"])
        return {
            "scaling.local1_events_per_s": one,
            "scaling.localN_events_per_s": many,
            "scaling.efficiency": many / one / run.cpus,
        }


# ------------------------------------------------------------------- reads


class ReadsBesideWrites(Workload):
    """Closed loop, one client. Set-up preloads a MoR lake and builds a view
    over it. Each cycle copies the preloaded lake with its view (untimed),
    commits the next epoch to the copy, then reads: one point lookup of K
    urls drawn zipf from the live keys, one change feed since the preloaded
    version and one view refresh; every SCAN_EVERY cycles, a full scan
    count. Every cycle thus starts from the same table: on one lake that
    kept ingesting, each epoch added a delta file to every bucket and each
    cycle's reads took about 30% longer than the last, so a run's median
    depended on how many cycles fit its window. Cycles repeat while time
    remains, at least MIN_CYCLES. Every read is checked against a
    sequential oracle (untimed)."""

    name = "reads_beside_writes"
    PRELOAD = 20_000
    # 2,000 events per epoch: the MoR epoch size the benchmark's issue
    # sized ingest by (about 1.1 s median per epoch at 4 cores)
    E = 2_000
    K = 10
    SCAN_EVERY = 2
    MIN_CYCLES = 3
    READS = ("lookup", "changes", "mview_refresh")

    def gen_inputs(self):
        from perfbench.inputs import make_docs, make_wal, read_events, wal_shape
        from perfbench.oracle import LwwState

        make_docs(self.path("docs.parquet"), 500, self.seed)
        self.wcfg, self.final = make_wal(
            self.path("wal"), self.path("docs.parquet"), self.seed,
            n_events=self.PRELOAD + self.E, events_per_epoch=self.E,
            schema_change_at_epoch=0,
        )
        ev = read_events(self.path("wal"))
        self.inputs = wal_shape(self.path("wal"), self.wcfg)
        self.inputs["preload_events"] = self.PRELOAD
        self.oracle = LwwState()
        self.oracle.apply(ev[ev["seq"] < self.PRELOAD])
        self.before = self.oracle.snapshot()
        self.oracle.apply(ev[ev["seq"] >= self.PRELOAD])
        self.after = self.oracle.snapshot()
        self.live_urls = np.asarray(sorted(self.after.index))
        self.rng = np.random.RandomState(self.seed)
        self.round = 0
        self.n_lakes = 0

    def _commit(self, spark, lake, epoch_id: int, lo: int, hi: int):
        from cdc_engine import apply, source

        batch = source.read_seq_range(spark, self.path("wal"), lo, hi)
        r = apply.apply_epoch(
            spark, lake, batch, epoch_id=epoch_id, cfg=self.cfg,
            expected_seq_range=(lo, hi),
            pid_bounds=source.partition_pid_bounds(self.path("wal"), lo, hi),
        )
        lake.maybe_compact(spark, self.cfg.compact_after_files)
        return r

    def _view(self, lake):
        from cdc_engine.mview import AggSpec, IncrementalAggView

        return IncrementalAggView(
            lake, "by_lang", ["lang"],
            [AggSpec("n", "count"), AggSpec("fs", "sum", "fetch_status")],
        )

    def _copy(self):
        from cdc_engine import SnapLake

        self.n_lakes += 1
        dst = self.path(f"cycle{self.n_lakes}")
        shutil.copytree(self.base, dst)
        self.origin[dst] = self.base
        self.lake = SnapLake(dst)
        self.view = self._view(self.lake)

    def prepare(self, spark, warm: bool):
        """Preload a fresh lake and build its view; the first round also
        runs one untimed cycle to warm the JVM."""
        from cdc_engine import CdcConfig, SnapLake
        from cdc_engine.schemas import PAGES_SCHEMA_V1

        self.round += 1
        self.cfg = CdcConfig(events_per_epoch=self.E)
        lake = SnapLake.create(self.path(f"base{self.round}"), PAGES_SCHEMA_V1, mode="mor")
        self._commit(spark, lake, 0, 0, self.PRELOAD)
        self._view(lake).full_refresh(spark)
        self.base = lake.path
        self.v_base = lake.head_version()
        if warm:
            self._copy()
            self._commit(spark, self.lake, 1, self.PRELOAD, self.PRELOAD + self.E)
            self._reads(spark, list(self.live_urls[:self.K]), scan=True, measured=False)

    def _draw(self, live_urls: np.ndarray) -> list[str]:
        """K distinct live urls, zipf over a seeded ranking."""
        n = len(live_urls)
        w = 1.0 / np.arange(1, n + 1) ** 1.1
        idx = self.rng.choice(n, size=self.K, replace=False, p=w / w.sum())
        return sorted(live_urls[self.rng.permutation(n)[idx]])

    def _reads(self, spark, urls, scan: bool, measured: bool = True):
        """The cycle's reads, each timed; returns {kind: (seconds, result)}.
        Only measured reads count as operations; a warm-up read that
        raises fails the run."""
        lake, out = self.lake, {}

        def lookup():
            df = lake.lookup(spark, urls)
            return df, df.select("url", "text", "warc_ts").collect()

        calls = {
            "lookup": lookup,
            "changes": lambda: lake.changes(spark, self.v_base).select("url", "change_type").collect(),
            "mview_refresh": lambda: self.view.incremental_refresh(spark),
            "scan": lambda: lake.scan(spark).count(),
        }
        for kind in self.READS + (("scan",) if scan else ()):
            t0 = time.perf_counter()
            r = self.op(calls[kind]) if measured else calls[kind]()
            out[kind] = (time.perf_counter() - t0, r)
        return out

    def _check_reads(self, spark, urls, got) -> None:
        import pandas as pd

        orc = self.oracle
        if got["lookup"][1] is not None:
            df, rows = got["lookup"][1]
            if self.run.tracer is not None:
                self.files_read.append(len(df.inputFiles()))
            have = {r["url"]: (r["text"], pd.Timestamp(r["warc_ts"])) for r in rows}
            if have != orc.lookup(urls) or len(rows) != len(have):
                self.fail_check("lookup vs oracle", (urls, len(have)))
        if got["changes"][1] is not None:
            have = {k: 0 for k in ("insert", "update", "delete")}
            for r in got["changes"][1]:
                have[r["change_type"]] += 1
            want = orc.changes(self.before, self.after)
            if have != want:
                self.fail_check("changes vs oracle", (have, want))
        if got["mview_refresh"][1] is not None:
            mode = got["mview_refresh"][1].get("mode")
            self.routes[mode] = self.routes.get(mode, 0) + 1
            have = {r["lang"]: int(r["n"]) for r in self.view.df(spark).collect()}
            if have != orc.group_counts():
                self.fail_check("view vs oracle", have)
        if "scan" in got and got["scan"][1] is not None and got["scan"][1] != len(orc.live()):
            self.fail_check("scan count vs oracle", (got["scan"][1], len(orc.live())))

    def measure(self, spark, seconds: float):
        t = {k: [] for k in ("commit",) + self.READS + ("scan",)}
        batch_s = []
        self.files_read = []
        self.routes: dict[str, int] = {}
        self.cycle_lakes = []
        busy = 0.0
        last = 0.0
        while len(batch_s) < self.MIN_CYCLES or self.window_open(busy, last, seconds):
            urls = self._draw(self.live_urls)
            self._copy()
            self.cycle_lakes.append(self.lake)
            t0 = time.perf_counter()
            if self.op(self._commit, spark, self.lake, 1, self.PRELOAD, self.PRELOAD + self.E) is None:
                break
            t["commit"].append(time.perf_counter() - t0)
            got = self._reads(spark, urls, scan=len(batch_s) % self.SCAN_EVERY == 0)
            for kind, (dt, r) in got.items():
                if r is not None:
                    t[kind].append(dt)
            batch_s.append(sum(got[k][0] for k in self.READS))
            last = t["commit"][-1] + sum(dt for dt, _r in got.values())
            busy += last
            self._check_reads(spark, urls, got)
        # reads, ingest beside them and the full scan are gated apart
        self.e2e = {
            "op_p50_ms": med(batch_s) * 1e3,
            "throughput_per_s": self.E / med(t["commit"], float("inf")),
            "batch_ms": med(t["scan"]) * 1e3,
        }
        for kind, xs in t.items():
            if xs:
                self.detail[f"{kind}_p50_ms"] = {"value": statistics.median(xs) * 1e3, "unit": "ms", "n": len(xs)}
        if t["lookup"]:
            self.detail.update(timed_stats("lookup", t["lookup"], "ms", 1e3))
        self.detail["read_batch_ms"] = {"value": [x * 1e3 for x in batch_s], "unit": "ms"}
        self.detail["cycles"] = {"value": len(batch_s), "unit": "count"}
        self.detail["mview_routes"] = {"value": self.routes, "unit": "count"}
        self.wal_bytes = int(self.E * len(batch_s) * self.inputs["segment_bytes"] / self.inputs["events"])

    def check(self, spark):
        """Every cycle's lake against the generator's sequential oracle."""
        from perfbench.oracle import frame_hashes, oracle_frame

        want, *got = frame_hashes([oracle_frame(spark, self.final, self.lake.schema()),
                                   *[lk.scan(spark) for lk in self.cycle_lakes]])
        bad = [lk.path for lk, h in zip(self.cycle_lakes, got) if h != want]
        for path in bad:
            self.fail_check("reads final state vs oracle", path)
        self.detail["state_check"] = {"oracle_rows": want[0], "lakes": len(got), "equal": len(got) - len(bad)}

    def layer_extras(self) -> dict:
        return {
            **super().layer_extras(),
            "lake.lookup_files_read": statistics.mean(self.files_read) if self.files_read else 0.0,
            "lake.files_total": len(self.lake.scan(self.run.spark).inputFiles()),
        }

    def lakes(self):
        return self.cycle_lakes


WORKLOADS = {w.name: w for w in (TailMorTrickle, CatchupBulk, ReadsBesideWrites)}
