"""Benchmark of the engine: two closed-loop workloads, one JVM per run.

    python3 perfbench/run.py --workload iterate_dedup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client issues the workload's units
back to back: a *unit* is one registered query, built and collected, or
one stage of the Sparkify ETL; a *pass* runs every unit once. A run:

1. pins the environment (cores, driver memory, local dirs), imports the
   package and starts Spark: ``setup_s``;
2. generates the workload's inputs from ``--seed`` under
   ``perfbench/.work/`` (removed again at exit);
3. runs one cold pass (``first_pass_s``), the workload's ``WARMUP``
   passes, then the ``MEASURED`` passes the metrics come from (up to
   ``EXTRA`` more stand in for passes the hypervisor stole much of),
   then further passes (checked, not reported) until the measured
   passes and those after them have taken ``--seconds``;
4. checks every unit's output outside the timed region: the DuckDB
   oracle of the registry (compared with ``tests/parity.py``'s rules)
   and, for ``q_minhash_lsh``, that it found the near-duplicates the
   generator planted, on the first pass, then the same result hash on
   every later pass;
   for ``lake_etl``, DuckDB counts over the written lake against the
   generator's ground truth;
5. prints one JSON line: the end-to-end metrics with ``--trace 0``, the
   per-layer metrics (``layers.py``) with ``--trace 1``.

It exits 1 after printing if any unit failed or failed its check (the
failures stay counted in ``failed`` and ``ok_rate``), and non-zero
without printing a result if the engine cannot be imported (2) or
started.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# iterate_dedup: HITS is an iterative operator with an eager checkpoint
# inside its build, ~30 Spark jobs and a plan of thousands of lines;
# MinHash LSH pins frames, fans out a single-row-group scan and
# shuffles its bands. lake_etl: the reference ETL program, then a read
# of what it wrote.
WORKLOADS = {
    "iterate_dedup": ["q_hits_hubs_authorities", "q_minhash_lsh"],
    "lake_etl": ["run_pipeline", "readback"],
}
# Unmeasured passes after the cold one. On either workload the first
# warm pass still takes ~20% more wall than the next one while the JIT
# warms, and it spread most between runs. lake_etl levels off from the
# fourth pass; iterate_dedup's passes fall ~5% a pass until the fifth,
# and a second warm-up pass there would not fit the benchmark's time
# budget.
WARMUP = {"iterate_dedup": 1, "lake_etl": 3}
# Passes the metrics come from, chosen by position and steal: a faster
# engine runs more passes to fill --seconds, but since later passes run
# warmer, counting them in would flatter it. More passes
# would not fit 4 + 22 x 2 runs of ~50-70 s into the benchmark's time
# budget.
MEASURED = {"iterate_dedup": 3, "lake_etl": 5}
# A pass during which the hypervisor stole more than STEAL_MAX of the
# box's busy CPU time is not measured if one of up to EXTRA further
# passes can stand in for it: netting a wall of steal leaves tens of
# percent of such a burst in it. Extra passes run warmer, so only
# lake_etl, level by then and ~3.5 s a pass, takes them, and none is
# started once the run is EXTRA_UNTIL_S old, so that runs on a slow,
# contended host still fit the benchmark's time budget.
STEAL_MAX = 0.05
EXTRA = {"iterate_dedup": 0, "lake_etl": 2}
EXTRA_UNTIL_S = 60.0
EXEC_KEYS = (
    "stages", "tasks", "single_task_stages", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb", "output_mb",
)
# Half the box's vCPUs run tasks; the rest are left to the JIT compiler,
# GC and Python workers. With as many task threads as vCPUs, the warm-up
# passes' compiler threads compete with the tasks for cores, and how far
# the JIT got by a given pass swung walls between runs of the same code.
CORES = max(1, min(4, len(os.sched_getaffinity(0))) // 2)
DRIVER_MEMORY = "2g"


def _proc_stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def since_process_start() -> float:
    """Seconds since this process was started by the kernel."""
    start = int(_proc_stat(os.getpid())[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_proc_stat(int(d))[1]), []).append(int(d))
            except OSError:
                pass
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process, the JVM and every other
    descendant, including reaped children."""
    hz = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            st = _proc_stat(pid)
        except OSError:
            continue
        total += sum(int(x) for x in st[11:15])
    return total / hz


def jit_cpu_s(pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads. They are kept
    alive (``-XX:-UseDynamicNumberOfCompilerThreads``), so none of
    their time leaves the live thread list."""
    hz = os.sysconf("SC_CLK_TCK")
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                st = f.read()
        except OSError:
            continue
        if "CompilerThre" in st[st.index("(") + 1:st.rindex(")")]:
            total += sum(int(x) for x in st.rsplit(")", 1)[1].split()[11:13])
    return total / hz


def host_jiffies() -> tuple[int, int]:
    """Box-wide (busy, stolen) jiffies from /proc/stat: busy counts
    user, nice, system, irq, softirq and steal; stolen is the time the
    hypervisor ran something else while a vCPU wanted to run."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6] + v[7], v[7]


def stolen_share(j0: tuple[int, int], j1: tuple[int, int]) -> float:
    busy = j1[0] - j0[0]
    return (j1[1] - j0[1]) / busy if busy > 0 else 0.0


def net(wall: float, stolen: float) -> float:
    """Wall time less the share the hypervisor stole from the box's
    vCPUs meanwhile. On a shared host, steal comes and goes with the
    neighbours' load and would otherwise swing walls by tens of
    percent between runs of the same code."""
    return wall * (1.0 - stolen)


def hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def rows_hash(rows) -> str:
    return hashlib.sha1("\n".join(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()


def timed_collect(df, traced: bool):
    """Plan ``df`` (only when tracing, to time planning apart from
    execution), then collect it: (plan_s, collect_s, rows)."""
    t0 = time.perf_counter()
    if traced:
        df._jdf.queryExecution().executedPlan()
    t1 = time.perf_counter()
    rows = df.collect()
    return t1 - t0, time.perf_counter() - t1, rows


class Unit:
    """One timed unit; ``run`` returns the timings and what ``check``
    needs. ``phase(tag)`` switches the Spark job group when tracing."""

    name: str

    def run(self, spark, phase) -> tuple[dict, object]:
        raise NotImplementedError

    def check(self, result) -> None:
        raise NotImplementedError


class QueryUnit(Unit):
    """One registered query. ``expect`` is an extra check of the first
    result's rows, for a query whose oracle alone would pass on inputs
    that never reach its interesting path."""

    def __init__(self, spec, data_dir: str, duck, traced: bool, expect=None) -> None:
        self.name, self.spec, self.data_dir = spec.name, spec, data_dir
        self.duck, self.traced, self.expect = duck, traced, expect
        self.hash: str | None = None

    def run(self, spark, phase):
        phase("b")
        t0 = time.perf_counter()
        df = self.spec.fn(spark, self.data_dir)
        build = time.perf_counter() - t0
        phase("x")
        plan, collect, rows = timed_collect(df, self.traced)
        return {"build": build, "plan": plan, "collect": collect}, (df, rows)

    def check(self, result):
        df, rows = result
        if self.hash is None:
            from tests.parity import assert_frames_match

            if not rows:
                raise AssertionError(f"{self.name}: empty result")
            if self.expect is not None:
                self.expect(rows)
            if self.spec.oracle is not None:
                # runs the query once more, untimed, before any warm pass
                assert_frames_match(
                    df.toPandas(), self.duck.execute(self.spec.oracle).fetchdf(), name=self.name
                )
            self.hash = rows_hash(rows)
        elif rows_hash(rows) != self.hash:
            raise AssertionError(f"{self.name}: result differs from the first pass")


class Lake:
    """Sparkify inputs, one output lake per pass, and the ground truth."""

    def __init__(self, work: str, seed: int) -> None:
        from gen_sparkify import write

        self.input = os.path.join(work, "sparkify")
        self.truth = write(seed, self.input)
        self.work, self.n = work, 0
        self.out = ""

    def next_output(self) -> str:
        self.n += 1
        self.out = os.path.join(self.work, f"lake{self.n}")
        return self.out

    def clear(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def layout(self) -> dict:
        files = dirs = size = 0
        for d, _, names in os.walk(self.out):
            pq = [n for n in names if n.endswith(".parquet")]
            files += len(pq)
            dirs += bool(pq)
            size += sum(os.path.getsize(os.path.join(d, n)) for n in pq)
        return {
            "files_written": files,
            "partition_dirs": dirs,
            "lake_bytes_per_input_byte": size / self.truth["input_bytes"],
        }


class PipelineUnit(Unit):
    """``etl.run_pipeline`` into a fresh lake directory."""

    name = "run_pipeline"

    def __init__(self, lake: Lake, duck) -> None:
        self.lake, self.duck = lake, duck

    def run(self, spark, phase):
        from data_lake_with_spark_and_aws_s3_spark import etl

        out = self.lake.next_output()
        phase("x")
        etl.run_pipeline(spark, self.lake.input, out)
        return {}, out

    def check(self, out):
        t = self.lake.truth

        def count(table: str, where: str = "true") -> int:
            return self.duck.execute(
                f"SELECT count(*) FROM read_parquet('{out}/{table}/**/*.parquet', "
                f"hive_partitioning = true) WHERE {where}"
            ).fetchone()[0]

        got = {
            "songs": count("songs"),
            "artists": count("artists"),
            "users": count("users"),
            "time": count("time"),
            "songplays": count("songplays"),
            "matched_songplays": count("songplays", "song_id IS NOT NULL"),
        }
        want = {k: t[k] for k in got}
        if got != want:
            raise AssertionError(f"lake counts {got} != expected {want}")


class ReadbackUnit(Unit):
    """Read the written ``songplays`` back and aggregate it."""

    name = "readback"

    def __init__(self, lake: Lake, traced: bool) -> None:
        self.lake, self.traced = lake, traced

    def run(self, spark, phase):
        from pyspark.sql import functions as F

        phase("x")
        df = (
            spark.read.parquet(f"{self.lake.out}/songplays")
            .groupBy("year", "month")
            .agg(F.count(F.lit(1)).alias("n"), F.count("song_id").alias("matched"))
        )
        plan, collect, rows = timed_collect(df, self.traced)
        return {"plan": plan, "collect": collect}, (df, rows)

    def check(self, result):
        _, rows = result
        got = (sum(r["n"] for r in rows), sum(r["matched"] for r in rows))
        want = (self.lake.truth["songplays"], self.lake.truth["matched_songplays"])
        if got != want:
            raise AssertionError(f"songplays read back {got} != expected {want}")


def pin_environment(work: str, traced: bool) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the engine's own defaults, not whatever the caller's shell set
    for k in ("SPARK_SHUFFLE_PARTITIONS", "SPARK_GRAFT_FANOUT_BYTES_PER_TASK"):
        os.environ.pop(k, None)
    # temporary files (the engine's, Python workers', the JVM's native
    # libraries) stay inside the run's work dir; no JVM perf-data file
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    args = ["--driver-java-options", jvm_opts]
    if traced:
        from layers import event_log_confs

        log_dir = os.path.join(work, "events")
        os.makedirs(log_dir)
        for c in event_log_confs(log_dir):
            args += ["--conf", c]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the context, then the JVM and its Python workers, and wait
    for all of them."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    traced = bool(a.trace)
    j_start = host_jiffies()
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        pin_environment(work, traced)
        sys.path[:0] = [ROOT, HERE]
        t0 = time.perf_counter()
        try:
            import data_lake_with_spark_and_aws_s3_spark as pkg
            from data_lake_with_spark_and_aws_s3_spark.session import get_spark
        except ImportError as e:
            print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
            return 2
        t1 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{a.workload}")
        t2 = time.perf_counter()
        setup = {
            "setup_s": net(since_process_start(), stolen_share(j_start, host_jiffies())),
            "import_s": t1 - t0,
            "get_spark_s": t2 - t1,
        }
        try:
            passes, attempted, failed, peak_rss = run_passes(a, work, traced, pkg, spark)
        finally:
            stop_spark(spark)
        measured = pick_measured(passes, a.workload)
        if traced:
            from layers import read_event_log

            events = read_event_log(os.path.join(work, "events"))
            metrics = layer_metrics(measured, events, setup, peak_rss)
        else:
            metrics = {
                "setup_s": (setup["setup_s"], "s"),
                "first_pass_s": (net(passes[0]["wall"], passes[0]["steal"]), "s"),
                "pass_s": (statistics.median([net(r["wall"], r["steal"]) for r in measured]), "s"),
                "slowest_unit_s": (
                    statistics.median(
                        [max(net(u["wall"], u["steal"]) for u in r["units"]) for r in measured]
                    ),
                    "s",
                ),
                "cpu_s": (statistics.median([r["cpu"] for r in measured]), "s"),
                "ok_rate": (1.0 - failed / attempted, "ratio"),
            }
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            )
        )
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there


def pick_measured(passes: list[dict], workload: str) -> list[dict]:
    """The first MEASURED passes after the warm-up whose steal share is
    at most STEAL_MAX, among the MEASURED + EXTRA passes that follow
    it; where fewer are that clean, the least-stolen of them."""
    first, n = 1 + WARMUP[workload], MEASURED[workload]
    window = passes[first:first + n + EXTRA[workload]]
    clean = [r for r in window if r["steal"] <= STEAL_MAX]
    if len(clean) >= n:
        return clean[:n]
    return sorted(sorted(window, key=lambda r: r["steal"])[:n], key=lambda r: r["pass_no"])


def run_passes(a, work: str, traced: bool, pkg, spark):
    """The cold pass, the warm-up passes and the measured passes, each
    followed by its untimed checks. Returns the per-pass records, the
    unit runs attempted and failed, and the peak RSS in MB."""
    import duckdb
    import gen_tables
    from layers import Calls
    from data_lake_with_spark_and_aws_s3_spark.plans.explain import count_exchanges, formatted_plan

    duck = duckdb.connect()
    lake = None
    if a.workload == "lake_etl":
        lake = Lake(work, a.seed)
        units: list[Unit] = [PipelineUnit(lake, duck), ReadbackUnit(lake, traced)]
    else:
        data = os.path.join(work, "tables")
        planted = gen_tables.write(a.seed, data)["planted_pairs"]
        for t in gen_tables.SIZES:
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")

        def found_planted(rows):
            # LSH finds each planted pair with probability > 0.95
            got = rows[0]["n_twin_pairs"]
            if got < max(1, planted // 2):
                raise AssertionError(f"q_minhash_lsh: {got} twin pairs, {planted} planted")

        expect = {"q_minhash_lsh": found_planted}
        units = [
            QueryUnit(pkg.REGISTRY[n], data, duck, traced, expect.get(n))
            for n in WORKLOADS[a.workload]
        ]

    sc = spark.sparkContext
    jvm = sc._gateway.proc.pid
    calls = Calls()
    if traced:
        calls.install()

    first_measured = 1 + WARMUP[a.workload]
    n = MEASURED[a.workload]
    passes: list[dict] = []
    attempted = failed = 0
    t_measure = 0.0
    while True:
        k = len(passes)
        if k == first_measured:
            t_measure = time.monotonic()
        clean = sum(r["steal"] <= STEAL_MAX for r in passes[first_measured:])
        if (
            k >= first_measured + n
            and (
                clean >= n
                or k >= first_measured + n + EXTRA[a.workload]
                or since_process_start() >= EXTRA_UNTIL_S
            )
            and time.monotonic() - t_measure >= a.seconds
        ):
            break
        rec: dict = {"pass_no": k, "units": []}
        results = []
        calls.reset()
        cpu0, jit0, j0 = tree_cpu_s(), jit_cpu_s(jvm), host_jiffies()
        p0 = time.perf_counter()
        for i, u in enumerate(units):
            def phase(tag, group=f"p{k}u{i}", name=u.name):
                if traced:
                    sc.setJobGroup(group + tag, name)

            ju0, u0 = host_jiffies(), time.perf_counter()
            try:
                timings, result = u.run(spark, phase)
            except Exception:
                traceback.print_exc()
                timings, result = {}, None
            ur = {
                "name": u.name,
                "registry": isinstance(u, QueryUnit),
                "wall": time.perf_counter() - u0,
                "steal": stolen_share(ju0, host_jiffies()),
                "t": timings,
                "cached_mb": 0.0,
            }
            if traced:
                infos = sc._jsc.sc().getRDDStorageInfo()
                ur["cached_mb"] = sum(r.memSize() + r.diskSize() for r in infos) / 2**20
            rec["units"].append(ur)
            results.append(result)
        rec["wall"] = time.perf_counter() - p0
        rec["jit"] = jit_cpu_s(jvm) - jit0
        # the program's CPU: the JIT compiler's is its own metric
        rec["cpu"] = tree_cpu_s() - cpu0 - rec["jit"]
        rec["steal"] = stolen_share(j0, host_jiffies())
        rec["calls"] = (dict(calls.calls), dict(calls.seconds))

        # untimed: output checks, plan shape, job counts, lake layout
        if traced:
            sc.setJobGroup("check", "output checks")
        for i, (u, ur, result) in enumerate(zip(units, rec["units"], results)):
            attempted += 1
            try:
                if result is None:
                    raise RuntimeError(f"{u.name} raised")
                u.check(result)
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            if traced:
                ur["jobs"] = {
                    tag: len(sc.statusTracker().getJobIdsForGroup(f"p{k}u{i}{tag}")) for tag in "bx"
                }
                if isinstance(result, tuple):
                    ur["plan_lines"] = len(formatted_plan(result[0]).splitlines())
                    ur["exchanges"] = count_exchanges(result[0])
        if lake is not None:
            rec["layout"] = lake.layout()
            lake.clear()
        passes.append(rec)
        units_s = " ".join(f"{u['name']}={u['wall']:.3f}" for u in rec["units"])
        print(
            f"\npass {k}: {rec['wall']:.3f} s, cpu {rec['cpu']:.2f} s, jit {rec['jit']:.2f} s, steal {rec['steal']:.3f}: {units_s}",
            file=sys.stderr,
        )

    peak_rss = hwm_mb(os.getpid()) + hwm_mb(jvm)
    return passes, attempted, failed, peak_rss


UNITS = {"_s": "s", "_mb": "MB", "_util": "ratio", "_byte": "ratio", "_share": "ratio"}


def unit_of(metric: str) -> str:
    return next((u for suffix, u in UNITS.items() if metric.endswith(suffix)), "count")


def layer_metrics(measured: list[dict], events: dict, setup: dict, peak_rss: float) -> dict:
    """Per-layer metrics: each is summed over a pass's units (storage:
    the maximum after any unit), then the median over the measured
    passes is taken."""
    per_pass = []
    for r in measured:
        calls, secs = r["calls"]
        units = r["units"]

        def tsum(key):
            return sum(u["t"].get(key, 0.0) for u in units)

        exec_ = {}
        for group, g in events.items():
            if group.startswith(f"p{r['pass_no']}u"):
                for key, v in g.items():
                    exec_[key] = exec_.get(key, 0.0) + v
        layout = r.get("layout", {})
        m = {
            "registry.build_s": sum(u["t"].get("build", 0.0) for u in units if u["registry"]),
            "registry.build_jobs": sum(u.get("jobs", {}).get("b", 0) for u in units),
            "sources.load_table_calls": calls.get("load_table", 0),
            "sources.load_table_s": secs.get("load_table", 0.0),
            "sources.apply_runtime_confs_calls": calls.get("apply_runtime_confs", 0),
            "sources.fan_out_calls": calls.get("fan_out", 0),
            "sources.fan_out_s": secs.get("fan_out", 0.0),
            "operators.pin_calls": calls.get("pin", 0),
            "operators.cached_mb": max(u["cached_mb"] for u in units),
            "spark.plan.plan_s": tsum("plan"),
            "spark.plan.plan_lines": sum(u.get("plan_lines", 0) for u in units),
            "spark.plan.exchanges": sum(u.get("exchanges", 0) for u in units),
            "spark.exec.collect_s": tsum("collect"),
            "spark.exec.jobs": sum(sum(u.get("jobs", {}).values()) for u in units),
        }
        for key in EXEC_KEYS:
            m[f"spark.exec.{key}"] = exec_.get(key, 0.0)
        # task run times include steal, so they are set against the raw
        # wall: the same ratio as netted run time over the netted wall
        m["spark.exec.core_util"] = exec_.get("executor_run_s", 0.0) / (r["wall"] * CORES)
        m["etl.process_song_data_s"] = secs.get("process_song_data", 0.0)
        m["etl.process_log_data_s"] = secs.get("process_log_data", 0.0)
        m["etl.files_written"] = layout.get("files_written", 0)
        m["etl.partition_dirs"] = layout.get("partition_dirs", 0)
        m["etl.readback_s"] = sum(u["wall"] for u in units if u["name"] == "readback")
        m["etl.lake_bytes_per_input_byte"] = layout.get("lake_bytes_per_input_byte", 0.0)
        m["process.jit_cpu_s"] = r["jit"]
        m["trace.pass_s"] = net(r["wall"], r["steal"])
        m["trace.raw_pass_s"] = r["wall"]
        m["host.steal_share"] = r["steal"]
        per_pass.append(m)
    out = {
        "session.import_s": (setup["import_s"], "s"),
        "session.get_spark_s": (setup["get_spark_s"], "s"),
        # GC heap sizing makes it swing up to 0.29 IQR/median between
        # runs of the same code: past any end-to-end bound
        "process.peak_rss_mb": (peak_rss, "MB"),
    }
    for key in per_pass[0]:
        out[key] = (statistics.median([m[key] for m in per_pass]), unit_of(key))
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
