"""The repo benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one query in flight, on
``local[N]`` with N the CPUs this process may use (``SPARK_GRAFT_CPUS``
overrides it, as for ``bench.py``). A pass builds each query of the
workload through ``QuerySpec.fn(spark, sf_dir)`` and runs it to the
``noop`` sink; the seed shuffles the query order of every pass.

1. Set-up (``setup_s``): process start to ready. Session and registry
   (loaded while the JVM starts); one untimed pass that is also the
   output check: each query is collected once and compared with its
   DuckDB oracle through ``tools/check_oracle.compare`` (the
   comparison's own cost is left out); then one untimed warm-up pass.
2. Timed passes: as many passes of the workload's nominal length as fit
   in ``--seconds``, at least one (``timed_passes``).
3. The last stdout line is the result JSON. ``--trace 0`` reports the
   end-to-end metrics, ``--trace 1`` the per-layer ones, from a run in
   which every query runs untraced and traced in turn (see ``layers.py``).
   The full record, with the host fingerprint, goes to
   ``.perfbench_work/results/``; ``compare.py`` reads those.

See ``README.md`` in this directory for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

REPO = os.getcwd()
WORK = os.path.join(REPO, ".perfbench_work")
# end-to-end figures reported beside the bounded ones in BENCHMARK.json
UNGATED_UNITS = {"query_tail_s": "s", "failed_frac": "ratio", "peak_rss_mb": "MB"}
ENGINE_FILES = ("bench.py", "__spark_entry__.py", "tools/check_oracle.py", "nchu_bigdata_spark/registry.py")


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    sf: str  # directory name under the engine's test-data root
    # length of a warm untraced pass on a 4-vCPU VM at the commit that
    # defined the benchmark; fixes the number of timed passes (timed_passes())
    nominal_pass_s: float


# the kmeans driver loop and dedup.py's connected-components engine with
# its eager freezes; graph_connected_components and graph_hits are left
# out to fit the time budget (README.md)
ITERATIVE = ("kmeans_fit", "dedup_clusters")
# bench.HEADLINE queries measured on iterative instead of headline
BUILD_BOUND = ("kmeans_fit", "dedup_minhash")


def workloads() -> dict[str, Workload]:
    import bench

    return {
        # the historical headline queries but the two build-bound ones,
        # whose code runs on iterative (dedup_clusters starts with
        # dedup_minhash): at sf0.01 final execution is most of a warm
        # pass. sf0.1 would not fit the time budget of a run (README.md)
        "headline": Workload(tuple(q for q in bench.HEADLINE if q not in BUILD_BOUND), "sf0.01", 6.5),
        # build-bound: eager freezes and per-round driver jobs
        "iterative": Workload(ITERATIVE, "sf0.001", 7.0),
    }


def timed_passes(wl: Workload, seconds: float, traced: bool) -> int:
    """Timed passes of a run: as many nominal passes as fit in
    ``seconds``, at least one. The count depends on the arguments only,
    not on how fast this run's passes are, so every run of a workload
    measures the same passes at the same warmth, and a faster engine
    shows as shorter passes rather than as more of them. A traced pass
    runs every query twice."""
    return max(1, round(seconds / (wl.nominal_pass_s * (2 if traced else 1))))


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def loadavg() -> list[float]:
    with open("/proc/loadavg", encoding="ascii") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests: the host's
    noise, which no benchmark setting removes."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def quiesce(sc, jvm_pid: int, limit_s: float = 5.0) -> float:
    """Collect garbage on both sides, then wait (at most ``limit_s``)
    until the JVM burns under half a core: the JIT compiles queued by
    the first pass otherwise compete with the timed pass for the cores.
    Returns the seconds waited."""
    import gc

    t0 = time.perf_counter()
    gc.collect()
    sc._jvm.System.gc()
    tick = os.sysconf("SC_CLK_TCK")

    def cpu_s() -> float:
        with open(f"/proc/{jvm_pid}/stat", encoding="ascii") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / tick

    while time.perf_counter() - t0 < limit_s:
        c0, w0 = cpu_s(), time.perf_counter()
        time.sleep(0.25)
        if (cpu_s() - c0) / (time.perf_counter() - w0) < 0.5:
            break
    return time.perf_counter() - t0


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def source_digest() -> str:
    """Hash of the engine sources under test; identifies the code in a
    checkout that is not a git repository."""
    h = hashlib.sha256()
    paths = list(ENGINE_FILES)
    for root, _, files in os.walk(os.path.join(REPO, "nchu_bigdata_spark")):
        paths += [os.path.relpath(os.path.join(root, f), REPO) for f in files if f.endswith(".py")]
    for p in sorted(set(paths)):
        h.update(p.encode())
        with open(os.path.join(REPO, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def tail(samples: list[float]) -> tuple[float, dict]:
    """The highest of p99/p95/p90/p75/p50 with at least 10 samples
    beyond it (nearest rank). With fewer than 20 samples no such
    percentile exists and the maximum is reported, marked as such."""
    s, n = sorted(samples), len(samples)
    for p in (99, 95, 90, 75, 50):
        rank = max(1, math.ceil(p * n / 100))
        if n - rank >= 10:
            return s[rank - 1], {"percentile": p, "samples": n, "beyond": n - rank}
    return s[-1], {"percentile": 100, "samples": n, "beyond": 0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in ENGINE_FILES if not os.path.isfile(os.path.join(REPO, p))]
    if missing:
        fail(f"run from the repository root; engine files not found: {missing}")
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as f:
        spec_json = json.load(f)
    sys.path.insert(0, REPO)
    sys.path.insert(0, os.path.join(REPO, "tools"))
    wl = workloads().get(args.workload)
    if wl is None:
        fail(f"unknown workload {args.workload!r}; one of {sorted(workloads())}")

    import __spark_entry__

    # the engine's declared test-data root: read-only fixed tables
    sf_dir = os.path.join(os.path.dirname(__spark_entry__.SF0001), wl.sf)
    if not os.path.isdir(sf_dir):
        fail(f"test data not found: {sf_dir}")

    # keep every file Spark, the JVM, DuckDB and Python write inside the checkout
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local, os.path.join(WORK, "results")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    load_before, ticks_before = loadavg(), cpu_ticks()

    import threading

    from nchu_bigdata_spark.registry import load_all_queries
    from nchu_bigdata_spark.session import get_session

    # load the query registry while the JVM starts: each takes seconds
    # and neither needs the other
    loaded: dict = {}

    def load_registry() -> None:
        try:
            loaded["specs"] = load_all_queries()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            loaded["error"] = e

    loader = threading.Thread(target=load_registry, name="perfbench-registry")
    loader.start()
    t = time.perf_counter()
    try:
        spark = get_session(
            "perfbench",
            extra_conf={
                "spark.local.dir": local,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            },
        )
        get_session_s = time.perf_counter() - t
    finally:
        loader.join()
    try:
        if "error" in loaded:
            raise loaded["error"]
        specs = loaded["specs"]
        names = list(wl.queries)
        import oracle_cache
        from check_oracle import compare

        oracle_s = oracle_cache.ensure(names, specs, sf_dir, os.path.join(WORK, "oracle"), REPO)
        ready_s = time.perf_counter() - T_START - oracle_s  # session and registry
        sc = spark.sparkContext
        rng = random.Random(args.seed)
        attempted = failed = 0
        problems: list[str] = []

        # set-up pass: untimed, collects and checks every query once
        oracle = oracle_cache.CachedOracle(sf_dir, os.path.join(WORK, "oracle"))
        check_s = 0.0
        for name in rng.sample(names, len(names)):
            attempted += 1
            t = time.perf_counter()
            try:
                ok, msg, _ = compare(name, spark, oracle, sf_dir, specs[name])
            except Exception as e:  # noqa: BLE001 - a failing query is a result, not a crash
                ok, msg = False, f"{type(e).__name__}: {e}"
            if oracle.looked_up > t:
                check_s += time.perf_counter() - oracle.looked_up
            if not ok:
                failed += 1
                problems.append(f"check {name}: {msg[:300]}")
        check_pass_s = time.perf_counter() - T_START - oracle_s - ready_s

        def run_plain(name: str) -> float | None:
            t = time.perf_counter()
            try:
                specs[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            except Exception as e:  # noqa: BLE001
                problems.append(f"run {name}: {type(e).__name__}: {str(e)[:300]}")
                return None
            return time.perf_counter() - t

        # warm-up pass: untimed, on the noop path of the timed passes. The
        # check pass collects instead, and the first noop pass after it
        # still runs 15-30% slower than the ones that follow
        warm_samples: list[tuple[str, float]] = []
        for name in rng.sample(names, len(names)):
            attempted += 1
            lat = run_plain(name)
            if lat is None:
                failed += 1
            else:
                warm_samples.append((name, lat))
        jvm_pid = sc._gateway.proc.pid
        quiesce_s = quiesce(sc, jvm_pid)
        setup_s = time.perf_counter() - T_START - oracle_s - check_s

        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = Tracer(spark, cores)
        passes: list[float] = []
        query_samples: list[tuple[str, float]] = []
        traced_passes: list[list] = []
        pairs: dict[tuple[int, str], list[float]] = {}  # (pass, query) -> [untraced, traced]
        ticks_timed = cpu_ticks()
        for _ in range(timed_passes(wl, args.seconds, bool(args.trace))):
            order = rng.sample(names, len(names))
            t_pass = time.perf_counter()
            traces = []
            for i, name in enumerate(order):
                if tracer is None:
                    attempted += 1
                    lat = run_plain(name)
                    if lat is None:
                        failed += 1
                    else:
                        query_samples.append((name, lat))
                    continue
                # untraced and traced in turn, alternating which goes first
                pair = pairs.setdefault((len(passes), name), [0.0, 0.0])
                for traced in ((False, True) if (i + len(passes)) % 2 == 0 else (True, False)):
                    attempted += 1
                    t = time.perf_counter()
                    if not traced:
                        lat = run_plain(name)
                        if lat is None:
                            failed += 1
                        else:
                            pair[0] = lat
                        continue
                    try:
                        qt = tracer.run(name, specs[name], sf_dir, attempted)
                    except Exception as e:  # noqa: BLE001
                        failed += 1
                        problems.append(f"trace {name}: {type(e).__name__}: {str(e)[:300]}")
                        continue
                    pair[1] = time.perf_counter() - t
                    problems += qt.reconcile()
                    traces.append(qt)
            passes.append(time.perf_counter() - t_pass)
            traced_passes.append(traces)

        ticks_after = cpu_ticks()
        peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        if tracer is None:
            latencies = [lat for _, lat in query_samples]
            tail_s, tail_info = tail(latencies) if latencies else (float("nan"), {})
            values = {
                "setup_s": setup_s,
                "pass_s": statistics.median(passes),
                "query_p50_s": statistics.median(latencies) if latencies else float("nan"),
                "query_tail_s": tail_s,
                "failed_frac": failed / attempted,
                "peak_rss_mb": peak_rss_mb,
            }
            detail = {
                "pass_samples_s": passes,
                "query_samples_s": query_samples,
                "query_tail": tail_info,
                "oracle_build_s": oracle_s,
                "check_cost_s": check_s,
                "warm_samples_s": warm_samples,
                # setup_s in parts: session and registry, the check pass
                # (with its comparisons), the warm-up pass and the quiet wait
                "setup_parts_s": [ready_s, check_pass_s, sum(lat for _, lat in warm_samples), quiesce_s],
                "quiesce_s": quiesce_s,
            }
            declared = spec_json["end_to_end"]
        else:
            from layers import pass_metrics

            per_pass = [pass_metrics(tr, cores) for tr in traced_passes if len(tr) == len(names)]
            values = {k: statistics.median(p[k] for p in per_pass) for k in (per_pass or [{}])[0]}
            values["session.get_session_s"] = get_session_s
            # geometric mean of per-query traced/untraced ratios: whichever
            # of a pair runs second is warmer, and alternating the order
            # cancels that only query by query, not in a sum over queries
            logs = [math.log(t / u) for u, t in pairs.values() if u > 0 and t > 0]
            values["trace.overhead_frac"] = (
                math.exp(statistics.fmean(logs)) - 1 if logs else float("nan")
            )
            values["process.peak_rss_mb"] = peak_rss_mb
            detail = {"passes": len(per_pass), "queries": [vars(qt) for tr in traced_passes for qt in tr]}
            declared = spec_json["per_layer"]

        units = {m["name"]: m["unit"] for m in declared} | UNGATED_UNITS
        absent = [m["name"] for m in declared if m["name"] not in values]
        if absent:
            problems.append(f"metrics not measured: {absent}")
        metrics = {
            m["name"]: {"value": values.get(m["name"], float("nan")), "unit": m["unit"]}
            for m in declared
        }
        # printed and recorded, but too unsteady run to run to carry a bound
        reported = {k: {"value": v, "unit": units[k]} for k, v in values.items() if k not in metrics}
        correct = failed == 0 and not problems and all(
            math.isfinite(v["value"]) for v in metrics.values()
        )
        host = {
            "nproc": nproc,
            "cpu_count": os.cpu_count(),
            "spark_graft_cpus": cores,
            "master": sc.master,
            "pyspark": __import__("pyspark").__version__,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "git_commit": git_commit(),
            "source_digest": source_digest(),
            "loadavg_before": load_before,
            "loadavg_after": loadavg(),
            "steal_frac_run": steal_frac(ticks_before, cpu_ticks()),
            "steal_frac_timed": steal_frac(ticks_timed, ticks_after),
        }
        record = {
            "workload": args.workload,
            "sf_dir": sf_dir,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": host,
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "problems": problems,
            "metrics": metrics,
            "reported": reported,
            "detail": detail,
        }
        out = os.path.join(
            WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}.json"
        )
        with open(out, "w", encoding="utf-8") as f:
            json.dump(record, f, indent=1, default=str)
    finally:
        shutdown(spark)
    for p in problems:
        print(f"problem: {p}")
    print(f"host: {json.dumps(host)}")
    for k, v in (metrics | reported).items():
        note = "" if k in metrics else "  (reported, no bound)"
        print(f"{args.workload} {k} = {v['value']:.6g} {v['unit']}{note}")
    if not args.trace:
        print(
            f"{args.workload}: {attempted} executions, {len(passes)} timed pass(es); "
            f"query_tail_s is p{tail_info.get('percentile')} of {tail_info.get('samples')} samples"
        )
    print(f"record: {os.path.relpath(out, REPO)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)


if __name__ == "__main__":
    raise SystemExit(main())
