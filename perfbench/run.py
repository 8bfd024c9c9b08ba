"""Layered benchmark of polars_iptools_spark.

Run from the repository root:

    python3 perfbench/run.py --workload linkage --seed 1 --seconds 10 --trace 0

One process is one closed-loop client on ``local[nproc]``: it sets the
workload up (several times, reporting the median), runs one cold job and
one unmeasured warm-up job, then warm jobs back to back for
``--seconds`` (at least ``MIN_JOBS``), checking every job's output
against an independent oracle.  It prints a table of every metric with
its unit, then, as the last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` is the
separate traced run: Spark event log and UDF profiler on, spans around
each layer's public calls, and the per-layer metrics (see LAYERS.md).
Generated inputs, checkpoints and records live under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
WORK = HERE / "_work"

SETUP_REPS = 3
WARMUP_JOBS = 1
MIN_JOBS = 2
DEADLINE_S = 150.0  # no job starts after this, so a run ends within 180 s

END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_job": "s",
}

_KERNEL_SPANS = {
    "sources.corpus": "corpus",
    "checkpoint.02_refined": "02_refined",
    "checkpoint.03_scored": "03_scored",
    "iptools.typed_roundtrip": "typed_roundtrip",
    "iptools.is_in": "is_in",
    "geoip.full": "geoip_full",
    "iptools.extract_v6": "extract_v6",
}

PER_LAYER = {
    **{f"checkpoint.stage_s.{s}": "s" for s in ("01_indicators", "02_refined", "03_scored", "04_clusters")},
    **{f"checkpoint.rows.{s}": "count" for s in ("01_indicators", "02_refined", "03_scored", "04_clusters")},
    **{f"checkpoint.bytes.{s}": "bytes" for s in ("01_indicators", "02_refined", "03_scored", "04_clusters")},
    "blocking.indicators": "count",
    "blocking.hot_blocks": "count",
    "blocking.refined_rows": "count",
    "blocking.candidate_pairs": "count",
    "scoring.hot_candidates": "count",
    "scoring.edges": "count",
    "scoring.useful_ratio": "ratio",
    "scoring.jw_ratio": "ratio",
    "closure.supersteps": "count",
    "closure.s": "s",
    "closure.normalize_s": "s",
    "closure.edges_in": "count",
    "iptools.scalar_native_s": "s",
    "iptools.typed_roundtrip_s": "s",
    "iptools.is_in_s": "s",
    "iptools.extract_v4_s": "s",
    "iptools.extract_v6_s": "s",
    "geoip.full_s": "s",
    "enrich.broadcast_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "python.run_s": "s",
    "python.start_s": "s",
    **{f"python.kernel_s.{k}": "s" for k in list(_KERNEL_SPANS.values()) + ["lsh"]},
    "dedup.minhash_s": "s",
    "dedup.simhash_s": "s",
    "dedup.candidates": "count",
    "dedup.pairs": "count",
    "dedup.cold_s": "s",
    "similarity.lsh_s": "s",
    "similarity.topk_s": "s",
    "near_dup.planted_recall": "ratio",
    "corpus.gen_s": "s",
    "mmdb.decode_s": "s",
    "mmdb_writer.write_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exchanges": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.driver_gap_s": "s",
    "trace.job_s": "s",
    "trace.untraced_job_s": "s",
    "trace.overhead_s": "s",
}


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------


def _descendants() -> dict[int, list[int]]:
    """pid -> [utime, stime, cutime, cstime] of this process and every
    descendant (JVM, Python workers)."""
    kids: dict[int, list[int]] = {}
    times: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(rest[1]), []).append(int(d))
        times[int(d)] = [int(x) for x in rest[11:15]]
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in times and pid not in out:
            out[pid] = times[pid]
            todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    return sum(sum(t) for t in _descendants().values()) / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> float:
    total_kb = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def host_stamp(nproc: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    stamp = {
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "loadavg_1m": os.getloadavg()[0],
    }
    try:
        from BENCH.sysload import cpu_calibration
    except ImportError:
        return stamp
    cal = cpu_calibration(nproc)
    stamp["sha256_1t_mb_s"] = cal["sha256_1t_mb_s"]
    stamp["sha256_per_core_mb_s"] = round(cal[f"sha256_{nproc}t_mb_s"] / nproc, 1)
    return stamp


def external_meter():
    """``BENCH.sysload.ExternalCpuMeter`` when present (recorded only)."""
    try:
        from BENCH.sysload import ExternalCpuMeter
    except ImportError:
        import contextlib

        return contextlib.nullcontext()
    return ExternalCpuMeter()


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


def start_spark(nproc: int, traced: bool):
    from polars_iptools_spark.session import get_spark

    tmp = WORK / "tmp"
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # -XX:-UsePerfData: no hsperfdata files outside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }
    if traced:
        (WORK / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (WORK / "eventlog").as_uri(),
            # Spark 4 compresses with zstd by default; no Python zstd here
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and the Python workers."""
    pids = [p for p in _descendants() if p != os.getpid()]
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def ensure_mmdb(root: Path) -> Path:
    """The synthetic GeoLite2 City/ASN pair, written once per size."""
    import inputs
    from polars_iptools_spark.sources import mmdb_synth

    d = root / inputs.mmdb_key()
    if not (d / "GeoLite2-ASN.mmdb").exists():
        tmp = root / (inputs.mmdb_key() + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        mmdb_synth.write_synthetic_geolite(tmp, **inputs.MMDB_SIZES)
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    return d


# ---------------------------------------------------------------------------
# runs
# ---------------------------------------------------------------------------


class Jobs:
    """Runs and checks jobs, counting attempts and failures."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, around=None, keep: bool = False) -> tuple[float | None, object]:
        """One job inside the ``around`` context; its output is checked
        and, unless ``keep``, cleaned up.  Returns (wall, handle), with
        wall None when the job failed."""
        self.attempted += 1
        try:
            with around or contextlib.nullcontext():
                t0 = time.perf_counter()
                handle = self.wl.job()
                wall = time.perf_counter() - t0
            errs = self.wl.check(handle)
            if not keep:
                self.wl.cleanup(handle)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            traceback.print_exc()
            return None, None
        if errs:
            self.failed += 1
            self.errors.extend(errs)
            return None, handle
        return wall, handle


def _tail(walls: list[float]) -> tuple[int, float]:
    """Highest of p50/p75/p90/p95/p99 with at least one sample beyond
    it, by nearest rank."""
    n = len(walls)
    p = max(q for q in (50, 75, 90, 95, 99) if n * (1 - q / 100) >= 1 or q == 50)
    s = sorted(walls)
    return p, s[max(0, -(-p * n // 100) - 1)]


def timed_run(wl, seconds: float, t_start: float, mark) -> tuple[dict, dict]:
    wl.prepare_inputs()
    mark("inputs")
    setups = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup()
        setups.append(time.perf_counter() - t0)
    mark("setup")
    info = wl.prepare_checks()
    mark("oracle")
    jobs = Jobs(wl)
    first, _ = jobs.run()
    mark("first_job")
    for _ in range(WARMUP_JOBS):
        jobs.run()
    walls, cpu = [], 0.0
    with external_meter() as meter:
        t_loop = time.perf_counter()
        while len(walls) < MIN_JOBS or time.perf_counter() - t_loop < seconds:
            if time.monotonic() - t_start > DEADLINE_S:
                break
            c0 = tree_cpu_s()
            wall, _ = jobs.run()
            c1 = tree_cpu_s()
            if wall is not None:
                walls.append(wall)
                cpu += c1 - c0
    mark("measured")
    rss = tree_peak_rss_mb()
    med = statistics.median(walls) if walls else 0.0
    p, tail = _tail(walls) if walls else (50, 0.0)
    metrics = {
        "setup_s": statistics.median(setups),
        "cpu_s_per_job": cpu / len(walls) if walls else 0.0,
    }
    info.update({
        "first_job_s": first,
        "setup_walls_s": setups,
        "warm_job_walls_s": walls,
        "job_s_median": med,
        "job_s_tail": tail,
        "job_s_tail_percentile": p,
        "job_s_tail_samples": len(walls),
        "peak_rss_mb": rss,
        f"{wl.unit}_per_s": wl.n_inputs / med if med else None,
        "external_cores_avg": getattr(meter, "external_cores_avg", None),
        **wl.quality(),
    })
    return metrics, {"info": info, "jobs": jobs}


def _profiler(spark, on: bool) -> None:
    key = "spark.sql.pyspark.udf.profiler"
    if on:
        spark.conf.set(key, "perf")
    else:
        spark.conf.unset(key)


def _kernel_times(spark):
    """Cumulative perf-profiler seconds per UDF id."""
    coll = getattr(spark, "_profiler_collector", None)

    def read() -> dict:
        try:
            return {k: v.total_tt for k, v in coll._perf_profile_results.items()}
        except AttributeError:
            return {}

    return read


def traced_run(wl, spark, nproc: int, seed: int) -> tuple[dict, dict]:
    import workloads
    from polars_iptools_spark.sources import mmdb, mmdb_synth
    from spans import Tracer

    import inputs

    tracer = Tracer(spark.sparkContext, _kernel_times(spark))
    wl.span = tracer.span
    m = {}
    fresh = WORK / "trace-mmdb"
    shutil.rmtree(fresh, ignore_errors=True)
    with tracer.span("sources.mmdb_writer") as s:
        mmdb_synth.write_synthetic_geolite(fresh, **inputs.MMDB_SIZES)
    m["mmdb_writer.write_s"] = s["wall_s"]
    with tracer.span("sources.mmdb_decode") as s:
        for name in ("GeoLite2-City.mmdb", "GeoLite2-ASN.mmdb"):
            mmdb.load_interval_table(fresh / name)
    m["mmdb.decode_s"] = s["wall_s"]
    wl.mmdb_dir = fresh
    wl.prepare_inputs()
    _profiler(spark, True)
    with tracer.span("setup"):
        wl.setup()
    _profiler(spark, False)
    gen = tracer.find("sources.corpus") or tracer.find("sources.inputs")
    m["corpus.gen_s"] = gen["wall_s"]
    m["enrich.broadcast_s"] = tracer.find("enrich.broadcast")["wall_s"]
    info = wl.prepare_checks()
    jobs = Jobs(wl)
    with tracer.span("job.cold"):
        jobs.run()

    @contextlib.contextmanager
    def labelled(kind: str):
        # spans and job groups on both kinds; the profiler on traced only
        _profiler(spark, kind == "traced")
        try:
            with wl.instrument(tracer), tracer.span(f"job.{kind}"):
                yield
        finally:
            _profiler(spark, False)

    # untraced and traced jobs in ABBA order, so a warm-up trend does
    # not bias the overhead
    walls: dict[str, list[float]] = {"untraced": [], "traced": []}
    handle = None
    for kind in ("untraced", "traced", "traced", "untraced"):
        if handle is not None:
            wl.cleanup(handle)
        wall, handle = jobs.run(labelled(kind), keep=True)
        if wall is not None:
            walls[kind].append(wall)
    traced_sid = tracer.find("job.traced")["id"]
    untraced_sid = tracer.find("job.untraced")["id"]
    if handle is not None:
        m.update(wl.layer_metrics(tracer, handle, walls_from=untraced_sid))
        wl.cleanup(handle)
    if isinstance(wl, workloads.Enrich):
        jobs.attempted += 1
        try:
            nd, errs = workloads.near_dup(spark, tracer, seed, nproc, lambda on: _profiler(spark, on))
            m.update(nd)
        except Exception:
            errs = [traceback.format_exc(limit=3)]
            traceback.print_exc()
        if errs:
            jobs.failed += 1
            jobs.errors.extend(errs)
    for span_name, key in _KERNEL_SPANS.items():
        # setup spans ran under the profiler; job spans count only in the
        # last traced job
        sp = tracer.find(span_name, traced_sid) or tracer.find(span_name, tracer.find("setup")["id"])
        if sp is not None:
            m[f"python.kernel_s.{key}"] = sp["kernel_s"]
    if walls["untraced"] and walls["traced"]:
        m["trace.job_s"] = statistics.median(walls["traced"])
        m["trace.untraced_job_s"] = statistics.median(walls["untraced"])
        m["trace.overhead_s"] = m["trace.job_s"] - m["trace.untraced_job_s"]
    info["app_id"] = spark.sparkContext.applicationId
    return m, {"info": info, "jobs": jobs, "tracer": tracer, "traced_sid": traced_sid}


def reduce_trace(metrics: dict, state: dict) -> list[dict]:
    """Fold the event log into the traced job's engine metrics; returns
    one row per span for the trace file."""
    from spans import read_event_log, reduce_event_log, span_metrics

    tracer = state["tracer"]
    reduced = reduce_event_log(read_event_log(WORK / "eventlog", state["info"]["app_id"]))
    for k, v in span_metrics(tracer, reduced, state["traced_sid"]).items():
        metrics[k] = v
    rows = []
    for s in tracer.spans:
        rows.append({**s, **span_metrics(tracer, reduced, s["id"])})
    unlabelled = reduced["groups"].get(None, {}).get("spark.jobs", 0)
    state["info"]["jobs_outside_spans"] = unlabelled
    return rows


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def _print_table(title: str, metrics: dict, units: dict) -> None:
    print(f"== {title}")
    for k in units:
        print(f"  {k:<34} {metrics.get(k, 0.0):>16.6g} {units[k]}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["linkage", "enrich"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()
    timeline: dict[str, float] = {}

    def mark(phase: str) -> None:
        timeline[phase] = round(time.monotonic() - t_start, 2)

    if not (ROOT / "polars_iptools_spark" / "__init__.py").is_file():
        print("perfbench: polars_iptools_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    for d in ("tmp", "spark-local", "cache"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    import workloads

    nproc = len(os.sched_getaffinity(0))
    stamp = host_stamp(nproc)
    mmdb_dir = ensure_mmdb(WORK / "cache")
    mark("host")
    traced = bool(args.trace)
    run_dir = WORK / f"run-{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    if traced:
        shutil.rmtree(WORK / "eventlog", ignore_errors=True)
    spark = start_spark(nproc, traced)
    mark("session")
    try:
        cls = {"linkage": workloads.Linkage, "enrich": workloads.Enrich}[args.workload]
        wl = cls(spark, args.seed, run_dir, mmdb_dir, nproc)
        if traced:
            metrics, state = traced_run(wl, spark, nproc, args.seed)
        else:
            metrics, state = timed_run(wl, args.seconds, t_start, mark)
    finally:
        stop_spark(spark)
    mark("stopped")
    shutil.rmtree(run_dir, ignore_errors=True)

    jobs = state["jobs"]
    state["info"]["timeline_s"] = timeline
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": stamp, "info": state["info"], "errors": jobs.errors}
    if traced:
        record["spans"] = reduce_trace(metrics, state)
        units = PER_LAYER
        print("== spans (wall s, jobs, tasks, executor run s, Python kernel s)")
        for r in record["spans"]:
            depth = 0
            p = r["parent"]
            while p is not None:
                depth += 1
                p = record["spans"][p]["parent"]
            print(f"  {'  ' * depth + r['name']:<40} {r['wall_s']:9.3f} {r['spark.jobs']:5.0f} "
                  f"{r['spark.tasks']:6.0f} {r['spark.executor_run_s']:9.3f} {r.get('kernel_s', 0.0):8.3f}")
    else:
        units = END_TO_END
    out = {k: float(metrics.get(k, 0.0)) for k in units}
    record["metrics"] = out
    (WORK / "records").mkdir(parents=True, exist_ok=True)
    with open(WORK / "records" / f"{args.workload}-{args.seed}-{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)

    print("== host " + json.dumps(stamp))
    print("== run " + json.dumps({k: v for k, v in state["info"].items() if k != "mix"}, default=str))
    if "mix" in state["info"]:
        print("== input mix (shares) " + json.dumps(state["info"]["mix"]))
    _print_table(f"{args.workload} seed={args.seed} trace={args.trace}", out, units)
    for e in jobs.errors:
        print(f"  FAILED: {e.strip().splitlines()[-1]}")
    result = {
        "correct": jobs.failed == 0 and jobs.attempted > 0,
        "attempted": jobs.attempted,
        "failed": jobs.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
