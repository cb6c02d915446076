"""The benchmark workloads and the loop that measures them.

Every workload drives the library only through its public entry points:
``cli.main`` verbs, ``plans.pipeline.joined_research_frame``,
``operators.backtest.run_sweep`` / ``sweep_stats`` and the registered
queries in ``plans.driver_queries.QUERIES``. Lakes are written through
``sources.lake.stage_append`` + ``compact_staging``, the same write path
the ``compact`` verb uses.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import statistics
import sys
import time
import traceback

import gen
from binance_futures_data_lake_spark import cli
from spans import Span, Tracer, list_parquet, self_times, written


class Bench:
    """One run's session, tracer and failure accounting. ``attempted``
    counts layer calls and output checks; ``failed`` counts the calls that
    raised and the checks that did not hold."""

    def __init__(self, spark, tracer: Tracer, seed: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.attempted = 0
        self.failed = 0

    @contextlib.contextmanager
    def call(self, name: str, layer: str):
        """Span around one call into a layer; a raise counts as failed."""
        self.attempted += 1
        try:
            with self.tracer.span(name, layer) as s:
                yield s
        except Exception:
            self.failed += 1
            raise

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def cli(self, argv: list[str], transport=None) -> tuple[int, list[dict]]:
        """``cli.main`` with its JSON lines captured off our stdout."""
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(argv, transport=transport)
        return rc, [json.loads(x) for x in buf.getvalue().splitlines() if x.startswith("{")]

    @property
    def traced(self) -> bool:
        return self.tracer.enabled


def _write_lake(b: Bench, root: str, symbols, days, gaps: bool) -> None:
    """Generated M1 bars → staging → canonical, through the library."""
    from binance_futures_data_lake_spark.sources import lake
    from binance_futures_data_lake_spark.sources.poll import KLINE_SCHEMA

    pdf = gen.klines_frame(b.seed, symbols, days, gaps)
    lake.stage_append(b.spark.createDataFrame(pdf, KLINE_SCHEMA), root)
    lake.compact_staging(b.spark, root)


def _rows(files: dict, *parts: str) -> int:
    """Footer rows of the listed files whose path contains every part."""
    return sum(v[2] for p, v in files.items() if all(x in p for x in parts))


def _digest(rows) -> str:
    return hashlib.sha256(json.dumps(sorted(rows), default=str).encode()).hexdigest()[:16]


def _pinned(workload: str, seed: int) -> list | None:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")) as f:
        return json.load(f).get(workload, {}).get(str(seed))


class Workload:
    """``build`` the inputs (timed into ``setup_s``), then per iteration:
    ``iteration`` (measured), ``verify`` (untimed output checks) and, when
    traced, ``branches`` (extra spans outside the measured iterations).
    ``traced_metrics`` adds the workload's own numbers to a traced run's
    per-layer metrics. A run measures at least ``min_iterations``."""

    min_iterations = 2

    def branches(self, b: Bench) -> None:
        pass

    def traced_metrics(self, b: Bench, m: dict, traced_wall: float) -> dict:
        return {}


# --- daily_update ----------------------------------------------------------

class DailyUpdate(Workload):
    """The reference's cron job: collect → compact → aggregate → validate,
    one new day per symbol per cycle, with a re-sent overlap hour and
    planted gap minutes. The build backfills the lake's first ``days``
    days."""

    name = "daily_update"

    # 2 days from 2024-01-31: the lake crosses the Jan/Feb month boundary
    def __init__(self, b: Bench, symbols=gen.SYMBOLS[:2], days: int = 2):
        self.symbols, self.days = symbols, days
        self.exchange = gen.FakeExchange(b.seed, symbols)
        self.base = None
        self.last_day = -1

    def build(self, b: Bench) -> None:
        base = os.path.join(b.work, "daily")
        os.makedirs(os.path.join(base, "config"))
        with open(os.path.join(base, "config", "symbols.yml"), "w") as f:
            f.write("symbols:\n" + "".join(f"  - {s}\n" for s in self.symbols))
        self.base = base
        # collect + compact into the empty lake, as a first cron run does
        self.verify(b, self.cycle(b, self.days - 1, full=False))

    def iteration(self, b: Bench) -> dict:
        return self.cycle(b, self.last_day + 1)

    def cycle(self, b: Bench, day: int, full: bool = True) -> dict:
        """collect up to the end of ``day`` (from the lake's start when the
        lake is empty), compact, then (``full``) aggregate and validate."""
        first = self.last_day + 1
        self.last_day = day
        self.exchange.open_day(day)
        end_ms = gen.START_MS + (day + 1) * gen.DAY_MS - 1
        data = os.path.join(self.base, "data")
        common = ["--base-dir", self.base]
        out = {"first": first, "day": day}
        snap = list_parquet(data) if b.traced else None

        with b.call("cli.collect", "cli") as s:
            out["collect"] = b.cli(
                ["collect", *common, "--start-ms", str(gen.START_MS), "--end-ms", str(end_ms),
                 "--sleep-sec", "0"],
                transport=self.exchange,
            )
        if s is not None:
            res = out["collect"][1]
            s.counts["sources.poll.pages"] = sum(r["pages"] for r in res)
            s.counts["sources.poll.rows_staged"] = sum(r["rows"] for r in res)

        with b.call("cli.compact", "cli") as s:
            out["compact"] = b.cli(["compact", *common])
        if s is not None:
            after = list_parquet(data)
            new = written(snap, after)
            folded = sum(r["rows_folded"] for r in out["compact"][1])
            m1 = ("klines_m1", "canonical")
            raw_added = _rows(after, *m1) - _rows(snap, *m1)
            out["dup_rows_dropped"] = folded - raw_added
            s.counts.update({
                "sources.lake.rows_folded": folded,
                "sources.lake.dup_rows_dropped": out["dup_rows_dropped"],
                "sources.lake.rows_rewritten_per_row_ingested": _rows(new, "canonical") / folded,
                "sources.lake.bytes_written": sum(v[1] for v in new.values()),
                "sources.lake.files_written": len(new),
            })
            snap = after
        if not full:
            return out

        with b.call("cli.aggregate", "cli") as s:
            out["aggregate"] = b.cli(["aggregate", *common])
        if s is not None:
            after = list_parquet(data)
            # one scan of the M1 lake per derived timeframe
            m1_rows = _rows(snap, "klines_m1", "canonical")
            s.counts["operators.resample.rows_scanned"] = m1_rows * len(cli.TF_MINUTES)
            for tf in cli.TF_MINUTES:
                s.counts[f"operators.resample.rows_out.{tf}"] = _rows(after, f"klines_{tf}")

        with b.call("cli.validate", "cli") as s:
            out["validate"] = b.cli(["validate", *common])
        if s is not None:
            reps = [r["audit"] for r in out["validate"][1]]
            s.counts["operators.maintenance.rows_audited"] = sum(r["n_rows"] for r in reps)
            s.counts["operators.maintenance.missing_grid_rows"] = sum(
                r["n_missing_grid_rows"] for r in reps
            )
        return out

    def verify(self, b: Bench, out: dict) -> None:
        n, day = len(self.symbols), out["day"]
        exp = gen.expected_cycle(n, day + 1 - out["first"], resent=out["first"] > 0)
        rc, res = out["collect"]
        b.check(rc == 0 and len(res) == n, f"collect rc={rc} results={len(res)}")
        b.check(sum(r["pages"] for r in res) == exp["pages"], f"collect pages {res}")
        b.check(sum(r["rows"] for r in res) == exp["rows_staged"], f"collect rows {res}")
        rc, res = out["compact"]
        folded = sum(r["rows_folded"] for r in res)
        b.check(rc == 0 and folded == exp["rows_folded"], f"compact rc={rc} folded={folded}")
        if "dup_rows_dropped" in out:  # traced runs list the lake files
            dups = out["dup_rows_dropped"]
            b.check(dups == exp["dup_rows_dropped"], f"compact dropped {dups} duplicates")
        if "aggregate" not in out:
            return
        rc, res = out["aggregate"]
        b.check(rc == 0 and len(res) == len(cli.TF_MINUTES), f"aggregate rc={rc} {res}")
        rc, res = out["validate"]
        want = gen.expected_audit(b.seed, n, day + 1)
        got = {r["table"]: r["audit"] for r in res}
        b.check(got == want, f"validate day {day}: {got} != {want}")
        b.check(rc == (0 if all(w["ok"] for w in want.values()) else 1), f"validate rc={rc}")

    def traced_metrics(self, b: Bench, m: dict, traced_wall: float) -> dict:
        files = list_parquet(os.path.join(self.base, "data"))
        canon = sum(v[1] for p, v in files.items() if "canonical" in p)
        return {
            "daily_update_s": traced_wall,
            "lake_bytes_per_bar": canon / _rows(files, "klines_m1", "canonical"),
        }


# --- research_sweep --------------------------------------------------------

FRAME_DIGEST_COLS = (
    "symbol", "ts", "close", "atr14", "range_rel", "dir_state", "dir_ready",
    "vol_state", "range_pctl", "router_mode_h1", "regime_h1", "tradable_final",
)


def frame_digest(df) -> tuple[int, str]:
    """Row count and an order-independent digest of round6-rounded key
    columns of a research frame."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    from binance_futures_data_lake_spark.functions.scalars import round6

    types = dict((f.name, f.dataType) for f in df.schema.fields)
    cols = [
        round6(F.col(c)) if isinstance(types[c], DoubleType) else F.col(c).cast("string")
        for c in FRAME_DIGEST_COLS
    ]
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(20,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"])


def sweep_grid():
    """The reference's grid size: 12 configs (2 SL × 3 time stops × 2
    priorities) over thresholds loose enough for the generated walk."""
    from binance_futures_data_lake_spark.operators.backtest import Cfg

    loose = dict(session_hours=",".join(str(h) for h in range(24)), minute_guard=0,
                 mr_d=0.10, mr_rr=0.20, mr_mean_dist=0.05, mr_cp_low=0.45, mr_cp_high=0.55)
    return [
        Cfg(name=f"sl{sl}_ts{ts}_{pr[:2]}", mr_sl_atr=sl, mr_time_stop=ts, priority=pr, **loose)
        for sl in (1.2, 1.8)
        for ts in (10, 20, 40)
        for pr in ("TREND_FIRST", "MR_FIRST")
    ]


class ResearchSweep(Workload):
    """The research chain over a read-only canonical lake: lake →
    ``joined_research_frame`` → Parquet, then ``run_sweep`` over 12
    configs on that frame → trades Parquet → ``sweep_stats``."""

    name = "research_sweep"
    symbols = gen.SYMBOLS[:1]
    days = 3

    def __init__(self, b: Bench):
        from binance_futures_data_lake_spark.operators.regime import VolRegimeParams

        self.root = None
        self.frame_path = os.path.join(b.work, "research_frame")
        self.trades_path = os.path.join(b.work, "sweep_trades")
        self.cfgs = sweep_grid()
        # a 48-bar vol lookback, as driver_queries.q_research_sweep_stats uses,
        # so a lake of days (not months) leaves the vol regime readable
        self.vol_params = VolRegimeParams(lookback=48)
        self.n_bars = len(self.symbols) * self.days * gen.DAY_MIN
        self.digests: set[tuple[str, str]] = set()

    def build(self, b: Bench) -> None:
        self.root = os.path.join(b.work, "research_lake")
        _write_lake(b, self.root, self.symbols, range(self.days), gaps=False)

    def iteration(self, b: Bench) -> dict:
        from binance_futures_data_lake_spark.operators.backtest import run_sweep, sweep_stats
        from binance_futures_data_lake_spark.plans.pipeline import joined_research_frame
        from binance_futures_data_lake_spark.sources import lake

        with b.call("plans.pipeline.joined_research_frame", "plans.pipeline") as frame_span:
            m1 = lake.read_lake(b.spark, self.root)
            frame = joined_research_frame(m1, vol_params=self.vol_params)
            frame.write.mode("overwrite").parquet(self.frame_path)
        with b.call("operators.backtest.run_sweep", "operators.backtest"):
            frame = b.spark.read.parquet(self.frame_path)
            run_sweep(frame, self.cfgs).write.mode("overwrite").parquet(self.trades_path)
        with b.call("operators.backtest.sweep_stats", "operators.backtest") as s:
            stats = sweep_stats(b.spark.read.parquet(self.trades_path)).collect()
        rows = [r.asDict() for r in stats]
        if s is not None:
            bar_cfgs = self.n_bars * len(self.cfgs)
            trades = sum(r["n_trades"] for r in rows)
            s.counts.update({
                "operators.backtest.bar_cfgs": bar_cfgs,
                "operators.backtest.trades": trades,
                "operators.backtest.trades_per_kbar_cfg": trades / (bar_cfgs / 1000),
            })
        return {"rows": rows, "frame_span": frame_span}

    def verify(self, b: Bench, out: dict) -> None:
        n, frame_h = frame_digest(b.spark.read.parquet(self.frame_path))
        if out["frame_span"] is not None:
            out["frame_span"].counts["plans.pipeline.rows_out"] = n
        b.check(n == self.n_bars, f"research frame rows {n} != {self.n_bars}")

        rows = out["rows"]
        names = {r["cfg"] for r in rows}
        b.check(names == {c.name for c in self.cfgs}, f"sweep configs {sorted(names)}")
        b.check(all(r["n_trades"] > 0 for r in rows), "a config made no trades")
        b.check(sum(r["n_trend"] for r in rows) > 0, "the TREND engine never fired")
        b.check(sum(r["n_range"] for r in rows) > 0, "the RANGE engine never fired")
        stats_h = _digest([
            [r["cfg"], r["n_trades"], r["n_trend"], r["n_range"],
             *(round(float(r[k]), 6) for k in ("winrate", "avg_r", "sum_r", "pf"))]
            for r in rows
        ])
        got = (frame_h, stats_h)
        if not self.digests:
            print(json.dumps({"seed": b.seed, "research_digests": got}), file=sys.stderr)
        self.digests.add(got)
        b.check(len(self.digests) == 1, f"research digests changed: {self.digests}")
        pinned = _pinned(self.name, b.seed)
        b.check(pinned is None or tuple(pinned) == got,
                f"research digests {got} != pinned {pinned}")

    def branches(self, b: Bench) -> None:
        """Traced-only spans over the frame's branches and the bare scan."""
        from binance_futures_data_lake_spark.operators.features import m1_features
        from binance_futures_data_lake_spark.operators.regime import router_features_h1
        from binance_futures_data_lake_spark.operators.resample import resample_bars
        from binance_futures_data_lake_spark.plans.pipeline import (
            m5_vol_frame,
            m15_direction_frame,
        )
        from binance_futures_data_lake_spark.sources import lake

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        with b.call("sources.lake.read_lake", "sources.lake"):
            noop(lake.read_lake(b.spark, self.root))
        m1 = lake.read_lake(b.spark, self.root)
        with b.call("operators.features.m1_features", "operators.features"):
            noop(m1_features(m1))
        with b.call("plans.pipeline.m15_direction_frame", "plans.pipeline"):
            noop(m15_direction_frame(m1))
        with b.call("plans.pipeline.m5_vol_frame", "plans.pipeline"):
            noop(m5_vol_frame(m1, p=self.vol_params))
        with b.call("operators.regime.router_features_h1", "operators.regime"):
            noop(router_features_h1(resample_bars(m1, 60), ["symbol"], ["ts"]))
        registry_pass(b)

    def traced_metrics(self, b: Bench, m: dict, traced_wall: float) -> dict:
        sweep_s = m["operators.backtest.run_sweep_s"] + m["operators.backtest.sweep_stats_s"]
        return {
            "research_build_s": m["plans.pipeline.joined_research_frame_s"],
            "sweep_bar_cfgs_per_s": self.n_bars * len(self.cfgs) / sweep_s,
        }


# --- registry_queries ------------------------------------------------------

# One or two of bench.py's LLM_PIPELINE queries per beyond-paper operator
# module; the module is the ``operators.<name>`` the query's plan imports.
REGISTRY = {
    "benchmark_decontam": "textdedup",
    "bloom_decontam": "textdedup",
    "pq_ann_topk": "similarity",
    "hard_negative_mining": "similarity",
    "user_interaction_pagerank": "graph",
    "pack_sequences": "curation",
    "token_weighted_sample": "curation",
    "bpe_token_stats": "text",
    "pii_redact_docs": "text",
    "c4_quality_flags": "textquality",
    "toxicity_lexicon_score": "textquality",
    "hll_distinct_users": "sketch",
    "cms_heavy_hitters": "sketch",
    "media_audio_features": "multimodal",
}


def registry_pass(b: Bench) -> None:
    """One traced pass over the queries above on freshly generated tables
    (1000 documents, 400 vectors, 20,000 events), each called once and
    collected to the driver, as the verification driver does, then checked
    against its DuckDB oracle. Traced runs only: the pass costs about as
    much as a paper workload's whole run (see README)."""
    from binance_futures_data_lake_spark.plans import driver_queries as DQ
    from tests.oracle_utils import assert_frames_match, run_oracle

    sf_dir = os.path.join(b.work, "registry_tables")
    gen.registry_tables(b.seed, sf_dir, n_docs=1000, n_vecs=400, n_events=20_000)
    out = {}
    with b.tracer.span("plans.driver_queries", "plans.driver_queries") as suite:
        t0 = time.perf_counter()
        for q, module in REGISTRY.items():
            with b.call(f"operators.{module}", f"operators.{module}") as s:
                out[q] = DQ.QUERIES[q](b.spark, sf_dir).toPandas()
            s.counts["query"] = q
        suite.counts["registry_suite_s"] = time.perf_counter() - t0
    for q, pdf in out.items():
        try:
            assert_frames_match(pdf, run_oracle(DQ.ORACLE[q], sf_dir), q)
            ok, why = True, ""
        except AssertionError as e:
            ok, why = False, str(e)
        b.check(ok, f"{q} vs oracle: {why}")


WORKLOADS = {w.name: w for w in (DailyUpdate, ResearchSweep)}


# --- the measurement loop ----------------------------------------------------

def _timed(fn, *a):
    t0 = time.perf_counter()
    r = fn(*a)
    return time.perf_counter() - t0, r


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, out_dir: str,
        spec: dict) -> dict:
    """Set up (session + input build), then measure iterations for
    ``seconds``, at least the workload's ``min_iterations``; check every
    iteration and return the result object the benchmark prints. The
    first iteration runs on a JVM that has only built the inputs, so it
    pays the JIT compilation and Python-worker start a fresh process
    meets; the second runs warmer. A traced run makes the same calls with
    spans on, then runs the workload's branch spans once."""
    from binance_futures_data_lake_spark.session import get_spark

    t_session, spark = _timed(get_spark)
    run_id = f"{workload}-{seed}-{os.getpid()}"
    tracer = Tracer(spark, run_id, enabled=trace)
    b = Bench(spark, tracer, seed, work)
    wl = WORKLOADS[workload](b)
    walls = []
    try:
        t_build, _ = _timed(wl.build, b)
        t_end = time.perf_counter() + seconds
        try:
            while time.perf_counter() < t_end or len(walls) < wl.min_iterations:
                tracer.iteration = len(walls)
                with tracer.span(workload, "bench"):
                    wall, out = _timed(wl.iteration, b)
                walls.append(wall)
                wl.verify(b, out)
            if trace:
                wl.branches(b)
        except Exception:
            # a raise ends the measurement; the run still reports, as failed
            traceback.print_exc()
            if not walls:
                raise
            b.failed = max(b.failed, 1)
    finally:
        jvm = spark.sparkContext._gateway.proc
        rss_mb = (_vm_hwm_kb(jvm.pid) + _vm_hwm_kb("self")) / 1024.0
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)

    print(json.dumps({"session_s": t_session, "build_s": t_build, "iterations_s": walls}),
          file=sys.stderr)
    if not trace:
        metrics = {"setup_s": t_session + t_build, "iteration_s": statistics.median(walls)}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    else:
        tracer.spans.insert(0, Span(-1, "session.get_spark", "session", run_id, None, 0.0,
                                    t_session))
        metrics = layer_metrics(tracer.spans, workload)
        metrics["session.get_spark_s"] = t_session
        metrics.update(wl.traced_metrics(b, metrics, statistics.median(walls)))
        metrics["failed_op_ratio"] = b.failed / max(b.attempted, 1)
        metrics["peak_rss_mb"] = rss_mb
        tracer.write_jsonl(os.path.join(out_dir, f"trace-{run_id}.jsonl"))
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {k: metrics.get(k, 0) for k in units}

    return {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def layer_metrics(spans, workload: str) -> dict:
    """Per-iteration sums of each span's self time and counts, then the
    median over the iterations that have them. A span named ``x`` gives
    ``x_s`` and ``x.jobs`` / ``x.stages`` / ``x.tasks``; other counts keep
    their own names. The root span's self time is the harness's share."""
    selfs = self_times(spans)
    per_iter: dict[int, dict[str, float]] = {}
    failed_tasks = 0
    for s in spans:
        if s.iteration is None:
            continue
        acc = per_iter.setdefault(s.iteration, {})
        name = "bench.harness_self" if s.name == workload else s.name
        acc[f"{name}_s"] = acc.get(f"{name}_s", 0.0) + selfs[s.id]
        for k, v in s.counts.items():
            if k == "failed_tasks":
                failed_tasks += v
                continue
            if not isinstance(v, (int, float)):
                continue
            key = f"{name}.{k}" if k in ("jobs", "stages", "tasks") else k
            acc[key] = acc.get(key, 0) + v
    keys = {k for acc in per_iter.values() for k in acc}
    out = {k: statistics.median(acc[k] for acc in per_iter.values() if k in acc) for k in keys}
    out["spark.failed_tasks"] = failed_tasks
    return out
